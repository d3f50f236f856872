package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.ops.Splits

/** Corpus-management operators — dataset splitting and vocabulary
  * statistics, the bookkeeping half of a training-data pipeline (the
  * content half — dedup, quality, similarity — lives in LlmOps.scala).
  */
object Corpus {

  /** documents through the maintained split layout — see the twin note in
    * [[LlmOps]]; every query here is layout-robust by contract. */
  private def documents(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.documents(s, d)

  private[queries] val SplitCuts = Seq("train" -> 800L, "val" -> 900L, "test" -> 1000L)

  /** Deterministic 80/10/10 TRAIN/VAL/TEST split ([[graft.ops.Splits]]):
    * assignment is an affine hash of doc_id, so it is stable across runs,
    * engines, partition layouts, and re-ingestion — the property
    * `randomSplit` cannot give (its output depends on partition order,
    * so a repartition silently reshuffles the holdout). Audited per
    * (source, split): counts and char volume. Pure codegen'd column
    * arithmetic + one tiny agg shuffle.
    */
  def q53HashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        Splits.assign(col("doc_id"), SplitCuts).as("split"),
        col("n_chars"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("source", "split")

  val q53Oracle: String =
    s"""SELECT source,
       |  ${Splits.assignSql("doc_id", SplitCuts)} AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents GROUP BY source, split ORDER BY source, split""".stripMargin

  /** TF-IDF-style DISTINCTIVE TERMS per source — term frequency within
    * each source scored against corpus-wide document frequency, top 5
    * per source. The score is integer-scaled (`tf * 1e6 DIV df`) so
    * ranking is exact integer arithmetic in both engines — a float idf
    * (log) would differ in the last ulp across libm implementations.
    * Plan: ONE explode scan, aggregated twice — first to (term, source,
    * doc_id) occurrence counts, then to (term, source) carrying BOTH
    * tf (occurrences) and docs_st (documents in that source containing
    * the term). df is then a window `sum(docs_st) over (partition by
    * term)` — each doc lives in exactly one source, so the per-source
    * doc counts partition the corpus-wide document frequency. No tf⋈df
    * join exists at all: the corpus is read and exploded exactly once
    * (pinned in CorpusSpec — one scan, zero joins), and every exchange
    * after the first is vocabulary-sized, not corpus-sized, with partial
    * aggregation collapsing each term before any shuffle; a per-source
    * top-k window closes it out.
    */
  def q55Tfidf(s: SparkSession, d: String): DataFrame = {
    val st = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .groupBy("term", "source", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("term", "source")
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("docs_st"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("term").asc)
    st.withColumn("df", sum(col("docs_st")).over(Window.partitionBy("term")))
      .withColumn("score", expr("tf * 1000000 DIV df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("source"), col("score").desc, col("term"))
  }

  val q55Oracle: String =
    """WITH terms AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df
      |       FROM (SELECT DISTINCT term, doc_id FROM terms) GROUP BY 1),
      |scored AS (
      |  SELECT source, term, tf, df, tf * 1000000 // df AS score,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY tf * 1000000 // df DESC, term) AS rn
      |  FROM tf JOIN df USING (term))
      |SELECT source, term, tf, CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
      |FROM scored WHERE rn <= 5 ORDER BY source, score DESC, term""".stripMargin

  private val ChunkLen = 50
  private val ChunkStride = 40

  /** Token-window CHUNKING — the pre-embedding segmentation step of every
    * RAG / embedding pipeline: each document becomes overlapping windows
    * of [[ChunkLen]] tokens at stride [[ChunkStride]] (10-token overlap so
    * no sentence is split across a hard boundary without context). The
    * start offsets come from an integer-arithmetic `sequence` (chunk
    * count = ceil((n−W)/S)+1, floor-div formulation shared with the
    * oracle), and `slice` + `concat_ws` rebuild each window — all
    * codegen'd column expressions, one explode, no UDFs. Plan: a single
    * scan that explodes to O(total_tokens / stride) rows; at 100 TB the
    * chunker is a map-only stage (zero shuffles before the output sort) —
    * exactly what feeds a distributed embedding job.
    */
  def q61Chunk(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    // integral DIV (Column./ is double division); matches the oracle's //
    val lastStart = expr(
      s"CAST(CASE WHEN n <= $ChunkLen THEN 0 " +
        s"ELSE (n - $ChunkLen + ${ChunkStride - 1}) DIV $ChunkStride END AS INT)")
    documents(s, d)
      .filter(col("source") === "src0")
      .select(col("doc_id"), t.as("t"), size(t).as("n"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), lastStart)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("t"), col("chunk_id") * ChunkStride + 1, lit(ChunkLen)))
          .as("chunk_text"),
        size(slice(col("t"), col("chunk_id") * ChunkStride + 1, lit(ChunkLen)))
          .cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  val q61Oracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE source = 'src0'),
       |starts AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(0,
       |      CASE WHEN len(t) <= $ChunkLen THEN 0
       |           ELSE (len(t) - $ChunkLen + $ChunkStride - 1) // $ChunkStride END)) AS chunk_id
       |  FROM base)
       |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       |  array_to_string(t[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen], ' ') AS chunk_text,
       |  CAST(len(t[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_tokens
       |FROM starts ORDER BY doc_id, chunk_id""".stripMargin

  private val SampleK = 20
  private val SampleOversample = 3

  /** Deterministic STRATIFIED SAMPLING by content hash — the reproducible
    * data-mixture sampler: the k docs with the smallest engine-portable
    * [[graft.functions.PolyHash.horner]] text hash per language. Unlike
    * `TABLESAMPLE`/`randomSplit`, the selection is a pure function of
    * CONTENT — stable across runs, engines, partition layouts, and
    * re-ingestion, so a training mixture is auditable and reproducible.
    * Scale shape: a per-stratum count (tiny broadcast) derives an integer
    * hash threshold (≈ oversample·k/n of the hash space, floor-div so
    * both engines compute the same literal bound) that prefilters the
    * corpus in the SCAN — the row_number window then ranks only the
    * ~oversample·k survivors per stratum, never the full stratum, which
    * is what makes a 5-stratum window survive a 20 TB stratum. Strata
    * smaller than the threshold math degenerate to "keep all" (threshold
    * ≥ Mod), so no stratum can lose rows to the prefilter.
    *
    * k-per-stratum CONTRACT (round-6 advice): the prefilter bounds the
    * EXPECTED survivor count (≈ oversample·k per stratum) but not the
    * minimum — an unlucky hash draw can leave fewer than SampleK
    * survivors. The failure probability is the lower Chernoff tail of
    * Binomial(n, oversample·k/n) below k: exp(−k·(oversample−1)²/
    * (2·oversample)) ≈ 4e-6 at k=20, oversample=3, shrinking
    * geometrically in k — negligible for real sample sizes, and an
    * under-fill is DETECTABLE in the output (that stratum returns < k
    * rows; CorpusSpec asserts exact fill on every fixture). A caller
    * needing a hard guarantee re-runs just the under-filled strata with
    * the prefilter disabled (threshold = Mod); that fallback is kept OUT
    * of this query so the Spark plan and the oracle SQL stay the same
    * single-pass shape on both engines.
    */
  def q62StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{PolyHash, VectorExpressions}
    val k = SampleK * SampleOversample
    val hashed = documents(s, d)
      .select(col("lang"), col("doc_id"),
        VectorExpressions.hornerHash(col("text")).as("h"))
    val counts = hashed.groupBy("lang").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)
    hashed
      .join(broadcast(counts), Seq("lang"))
      .filter(col("h") <= expr(s"${PolyHash.Mod * k}L DIV n"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= SampleK)
      .select(col("lang"), col("rn"), col("doc_id"), col("h"))
      .orderBy("lang", "rn")
  }

  val q62Oracle: String = {
    import graft.functions.PolyHash
    val k = SampleK * SampleOversample
    s"""WITH h AS (
       |  SELECT lang, doc_id, ${PolyHash.hornerSql("text")} AS h FROM documents),
       |c AS (SELECT lang, count(*) AS n FROM h GROUP BY lang),
       |f AS (SELECT h.lang, h.doc_id, h.h
       |      FROM h JOIN c USING (lang)
       |      WHERE h.h <= ${PolyHash.Mod * k} // c.n),
       |r AS (SELECT lang, doc_id, h,
       |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
       |      FROM f)
       |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, h
       |FROM r WHERE rn <= $SampleK ORDER BY lang, rn""".stripMargin
  }

  private[queries] val PackBudget = 256L

  /** q65: SEQUENCE PACKING — assign documents to fixed-token-budget
    * training bins (greedy, contiguous, in deterministic doc_id order
    * within each source). This is the batch-construction step after
    * chunking (q61): trainers consume fixed-length sequences, and packing
    * short documents together is what keeps padding waste down.
    *
    * A doc belongs to the bin its START offset falls in (`(cum - tok) DIV
    * budget`), so a doc straddling a boundary stays whole in its starting
    * bin — the packer never splits documents (that is q61's job). Audited
    * per bin: doc count, token sum, and whether the bin overflowed its
    * budget (the straddler's bin legitimately can).
    *
    * Scale shape: one window cumsum PARTITIONED BY source — each source
    * packs in parallel and the sequential prefix is per-source only. At
    * 100 TB with few giant sources, sub-shard the partition key (source,
    * hash-bucket) — packing quality is unchanged (bins never cross the
    * partition key) and the prefix length is bounded by the shard. The
    * whole query is one scan + one window + one tiny agg shuffle, all
    * integer arithmetic.
    */
  def q65Pack(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    packedBins(documents(s, d)
        .select(col("source"), col("doc_id"), size(t).cast("long").as("tok")))
      .orderBy("source", "bin")
  }

  /** The q65 packing core over an arbitrary (source, doc_id, tok) frame —
    * ONE definition shared by the oracled q65 gate and the q237 curation
    * capstone (which packs the post-curation survivors), so the packing
    * policy cannot drift between the leg and the composed pipeline.
    * Returns one row per (source, bin): doc count, token sum, overflow. */
  private[queries] def packedBins(perDoc: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc
      .withColumn("cum", sum("tok").over(w))
      // integral DIV (Column./ is double division); matches the oracle's //
      .select(col("source"), expr(s"(cum - tok) DIV $PackBudget").as("bin"),
        col("tok"))
      .groupBy("source", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        (sum("tok") > PackBudget).as("overflow"))
  }

  /** (lang, keep-numerator, keep-denominator) — the target mixture. */
  private val MixRates: Seq[(String, Int, Int)] =
    Seq(("en", 3, 4), ("de", 1, 2), ("es", 1, 4), ("fr", 1, 8), ("zh", 1, 8))

  /** q69: DATA-MIXTURE construction — downsample each language to a target
    * rate (en 3/4, de 1/2, es 1/4, fr/zh 1/8) with the same
    * content-hash-threshold trick as q62: a doc is kept iff
    * `hash(text) % denom < num`, a pure function of content, so the
    * mixture is reproducible across runs, engines, partition layouts and
    * re-ingestion, and any two overlapping corpus snapshots select
    * consistently. Both the Spark CASE ladder and the oracle SQL are
    * generated from the SAME MixRates table, so the two formulations
    * cannot drift. Map-only filter + one tiny (lang) agg shuffle; rates
    * are approximate at ±O(1/sqrt(n)) like any hash-bucket sampler.
    */
  // Distinct ELSE branches per column (num→0, den→1), mirroring the
  // oracle's CASE defaults: a lang outside MixRates must select NOTHING
  // (0/1 keeps no rows), not divide by zero — Spark 4 runs ANSI-on, so
  // a shared 0 default made `h % den` a runtime error on any corpus
  // snapshot with an unlisted language (round-6 advice, medium).
  private def mixLadder(lang: Column, f: ((String, Int, Int)) => Int,
      dflt: Int): Column =
    MixRates.tail.foldLeft(
        when(lang === MixRates.head._1, f(MixRates.head))) {
      case (acc, r) => acc.when(lang === r._1, f(r))
    }.otherwise(dflt)

  /** The q69 keep rule as a per-row predicate over (lang, content hash)
    * — ONE definition shared by the oracled q69 gate and the q237
    * curation capstone, so the mixture policy cannot drift between the
    * leg and the composed pipeline. */
  private[queries] def mixtureKeepExpr(lang: Column, h: Column): Column =
    h % mixLadder(lang, _._3, 1) < mixLadder(lang, _._2, 0)

  /** The same rule as oracle SQL (generated from the SAME MixRates). */
  private[queries] def mixtureKeepSqlExpr(langCol: String, hCol: String): String = {
    def c(f: ((String, Int, Int)) => Int, dflt: Int): String =
      s"CASE $langCol " + MixRates.map(r => s"WHEN '${r._1}' THEN ${f(r)}")
        .mkString(" ") + s" ELSE $dflt END"
    s"($hCol % ${c(_._3, 1)} < ${c(_._2, 0)})"
  }

  /** The q69 transform on an arbitrary documents-shaped frame (public so
    * tests can prove layout-invariance on a repartitioned input). */
  def mixtureCounts(docs: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions
    docs
      .select(col("lang"),
        VectorExpressions.hornerHash(col("text")).as("h"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(mixtureKeepExpr(col("lang"), col("h")), 1L).otherwise(0L))
          .as("n_selected"))
      .orderBy("lang")
  }

  def q69Mixture(s: SparkSession, d: String): DataFrame =
    mixtureCounts(documents(s, d))

  val q69Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH h AS (
       |  SELECT lang, ${PolyHash.hornerSql("text")} AS h FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ${mixtureKeepSqlExpr("lang", "h")}
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
       |FROM h GROUP BY lang ORDER BY lang""".stripMargin
  }

  private val VocabTopK = 50

  /** q68: VOCABULARY COVERAGE — the Zipf audit behind tokenizer/vocab
    * sizing: rank tokens by global frequency and report the cumulative
    * count the top-k prefix covers (cum_cnt / corpus total = the fraction
    * of running text a k-entry vocabulary explains). Output is integers
    * only — the caller divides — so there is no float-rounding boundary
    * between engines.
    *
    * Scale shape: the corpus-sized work is the explode + groupBy(token)
    * (map-side partial counts, one shuffle of (token, cnt)); the
    * single-partition global window then runs over a STRUCTURALLY
    * bounded candidate set, not the whole vocabulary (round-6 verdict
    * task 5): a distributed per-bucket top-K (window partitioned by a
    * deterministic hash bucket of the token) keeps ≤ VocabTopK rows per
    * bucket first, so the global sort touches ≤ buckets·K rows BY
    * CONSTRUCTION — the "vocab ≪ corpus" assumption is no longer load-
    * bearing. This loses nothing: a global top-K token ranks ≤ K inside
    * its own bucket (per-bucket rank can only be smaller than global
    * rank), and `cum_cnt` over the top-K prefix of the total order
    * (cnt desc, token asc) only ever sums rows of that same prefix, all
    * of which survive. Ordering is total, so rank and cumsum are
    * deterministic on both engines; the oracle states the unfiltered
    * single-window form and CorpusSpec pins their equality.
    */
  private val VocabBuckets = 32

  def q68VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val ord = Seq(col("cnt").desc, col("token").asc)
    val wBucket = Window.partitionBy(col("__bucket")).orderBy(ord: _*)
    val wCum = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("__bucket", pmod(xxhash64(col("token")), lit(VocabBuckets)))
      .withColumn("__brank", row_number().over(wBucket))
      .filter(col("__brank") <= VocabTopK)
      .drop("__bucket", "__brank")
      .withColumn("cum_cnt", sum("cnt").over(wCum))
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .filter(col("rank") <= VocabTopK)
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"))
      .orderBy("rank")
  }

  val q68Oracle: String =
    s"""WITH t AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
       |r AS (SELECT token, cnt,
       |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt,
       |    row_number() OVER (ORDER BY cnt DESC, token) AS rank
       |  FROM c)
       |SELECT CAST(rank AS BIGINT) AS rank, token, cnt, cum_cnt
       |FROM r WHERE rank <= $VocabTopK ORDER BY rank""".stripMargin

  val q65Oracle: String =
    s"""WITH toks AS (
       |  SELECT source, doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
       |  FROM documents),
       |cums AS (
       |  SELECT source, tok,
       |    CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM toks)
       |SELECT source, (cum - tok) // $PackBudget AS bin,
       |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(tok) AS BIGINT) > $PackBudget AS overflow
       |FROM cums GROUP BY source, bin ORDER BY source, bin""".stripMargin

  private val IndexDfMin = 2L
  private val IndexTopTokens = 20
  private val IndexPostings = 5
  private val IndexBuckets = 32

  /** q73: INVERTED-INDEX construction — the posting-list build behind
    * BM25-style retrieval over a training corpus (retrieval-based dedup
    * triage, contamination lookup, RAG source indexing). Two levels:
    * per-(token, doc) term frequency, then per-token document frequency;
    * the registered query materializes the postings of the
    * [[IndexTopTokens]] highest-df non-hapax tokens, top
    * [[IndexPostings]] docs each by (tf desc, doc_id asc), exploded to
    * scalar rows so the gate hashes exact integers. (A production index
    * would also band out stopwords by df ceiling; the fixture's
    * deliberately tiny vocabulary makes every token stopword-frequent,
    * so the registered query indexes the head and relies on the
    * structural bound below instead.)
    *
    * Scale shape: the corpus-sized work is explode + the ONE
    * (token, doc_id) shuffle; document frequency is a partial-aggregated
    * re-shuffle carrying only (token, partial-count) pairs — vocabulary-
    * sized, not corpus-sized. Token selection is a bounded
    * TakeOrderedAndProject over the df frame and comes BACK as a
    * broadcast. The per-token top-tf postings are NOT found by sorting
    * each token's full posting list in one partition — a head token's
    * list is corpus-sized, the classic skew trap — but with the q68
    * two-level trick: rank within (token, doc-hash bucket), keep ≤ k per
    * bucket, then rank the ≤ buckets·k survivors per token. Both
    * orderings are total, so the index is deterministic on both engines.
    */
  def q73InvertedIndex(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val top = dfreq
      .filter(col("df") >= IndexDfMin)
      .orderBy(col("df").desc, col("token").asc)
      .limit(IndexTopTokens)
    val postOrd = Seq(col("tf").desc, col("doc_id").asc)
    val wBucket = Window.partitionBy(col("token"), col("__bucket")).orderBy(postOrd: _*)
    val wPost = Window.partitionBy("token").orderBy(postOrd: _*)
    tf.join(broadcast(top), Seq("token"))
      .withColumn("__bucket", pmod(xxhash64(col("doc_id")), lit(IndexBuckets)))
      .withColumn("__brank", row_number().over(wBucket))
      .filter(col("__brank") <= IndexPostings)
      .drop("__bucket", "__brank")
      .withColumn("rank", row_number().over(wPost).cast("long"))
      .filter(col("rank") <= IndexPostings)
      .select(col("token"), col("df"), col("rank"), col("doc_id"), col("tf"))
      .orderBy("token", "rank")
  }

  private val NgramMaxN = 3
  private val NgramTopK = 10

  /** q75: MULTI-ORDER N-GRAM COUNTS — the unigram/bigram/trigram
    * frequency tables behind n-gram contamination checks, perplexity
    * baselines, and repetition analysis, built in ONE corpus pass: each
    * document emits all its n-grams for EVERY ORDER IT IS LONG ENOUGH
    * FOR (a 2-token doc contributes its unigrams and its one bigram, no
    * trigrams — the per-(position, order) range filter is the only
    * gate; round-7 advice: the old global `size >= maxN` filter
    * silently dropped short docs from ALL orders) tagged with
    * their order (one generated array concat, ONE explode — not one scan
    * per order), partial-aggregated into (n, gram) counts. The registered
    * output is the top [[NgramTopK]] grams per order by the total
    * (cnt desc, gram asc) order, selected with the q68 bucket trick so no
    * single-partition sort ever sees a full order's vocabulary.
    *
    * Scale shape: explode ×(3·tokens) rows, map-side combine into the one
    * (n, gram) shuffle; everything after the aggregate is
    * vocabulary-sized. The oracle replays the same counts as three
    * unioned CTEs — shape differs, semantics identical, and the integer
    * outputs leave no rounding boundary.
    */
  def q75NgramCounts(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    // Codegen discipline (the q70 lesson): grams are built by exploding an
    // INTEGER sequence and projecting element_at/concat_ws — whole-stage-
    // codegen'd — never by a `transform` lambda, whose per-element
    // interpreted eval measured ~10x slower on exactly this shape. The
    // order dimension is a second tiny explode (1..maxN) with a range
    // filter, so one corpus pass still yields every order's grams.
    def el(k: Column): Column = element_at(col("t"), col("i") + k)
    val gram =
      when(col("n") === 1, el(lit(0)))
        .when(col("n") === 2, concat_ws(" ", el(lit(0)), el(lit(1))))
        .otherwise(concat_ws(" ", el(lit(0)), el(lit(1)), el(lit(2))))
    val ord = Seq(col("cnt").desc, col("gram").asc)
    val wBucket = Window.partitionBy(col("n"), col("__bucket")).orderBy(ord: _*)
    val wTop = Window.partitionBy(col("n")).orderBy(ord: _*)
    documents(s, d)
      .select(t.as("t"))
      // size >= 1 always holds (split of a trimmed string yields at least
      // one element), so sequence(1, size) never runs descending
      .select(explode(sequence(lit(1), size(col("t")))).as("i"), col("t"))
      .select(explode(sequence(lit(1), lit(NgramMaxN))).as("n"), col("i"), col("t"))
      .filter(col("i") + col("n") - 1 <= size(col("t")))
      .select(col("n"), gram.as("gram"))
      .groupBy("n", "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("__bucket", pmod(xxhash64(col("gram")), lit(VocabBuckets)))
      .withColumn("__brank", row_number().over(wBucket))
      .filter(col("__brank") <= NgramTopK)
      .drop("__bucket", "__brank")
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= NgramTopK)
      .select(col("n").cast("long").as("n"), col("rank"), col("gram"), col("cnt"))
      .orderBy("n", "rank")
  }

  val q75Oracle: String = {
    val grams = (1 to NgramMaxN).map { n =>
      val parts = (0 until n).map(k => s"t[i + $k]").mkString(" || ' ' || ")
      // generate_series(1, len - n + 1) is empty when len < n, so each
      // order self-filters to documents long enough for it — mirroring
      // the engine's per-(position, order) range filter
      s"""SELECT $n AS n, unnest(list_transform(
         |    generate_series(1, len(t) - ${n - 1}), i -> $parts)) AS gram
         |  FROM toks""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |g AS ($grams),
       |c AS (SELECT n, gram, count(*) AS cnt FROM g GROUP BY n, gram),
       |r AS (SELECT n, gram, cnt,
       |        row_number() OVER (PARTITION BY n ORDER BY cnt DESC, gram) AS rank
       |      FROM c)
       |SELECT CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank, gram, cnt
       |FROM r WHERE rank <= $NgramTopK ORDER BY n, rank""".stripMargin
  }

  val q73Oracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |tf AS (SELECT token, doc_id, count(*) AS tf FROM t GROUP BY token, doc_id),
       |dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |top AS (SELECT token, df FROM dfx
       |        WHERE df >= $IndexDfMin
       |        ORDER BY df DESC, token LIMIT $IndexTopTokens),
       |r AS (SELECT tf.token, top.df, tf.doc_id, tf.tf,
       |        row_number() OVER (PARTITION BY tf.token
       |                           ORDER BY tf.tf DESC, tf.doc_id) AS rank
       |      FROM tf JOIN top USING (token))
       |SELECT token, CAST(df AS BIGINT) AS df, CAST(rank AS BIGINT) AS rank,
       |  doc_id, CAST(tf AS BIGINT) AS tf
       |FROM r WHERE rank <= $IndexPostings ORDER BY token, rank""".stripMargin

  /** The fixed query workload for q84 — multi-term queries mixing common
    * and rare terms (`dup` is the fixture's only low-df token, so its idf
    * dominates query 2's ranking). Shared by the Spark query and the
    * generated oracle SQL so the workload cannot drift. */
  private[queries] val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join"),
    2L -> Seq("dup", "stream"),
    3L -> Seq("hash", "table", "window"))
  private val Bm25TopK = 10
  private val Bm25Scale = 1000000L
  private val Bm25Buckets = 32

  /** q84: BM25 RANKED RETRIEVAL — the scoring half of the q73 inverted
    * index: Okapi BM25 (k1 = 1.2, b = 0.75) over a fixed multi-query
    * workload, top-[[Bm25TopK]] documents per query. BM25 is "naturally
    * float" twice over (log idf, fractional length normalization); both
    * are replaced by EXACT RATIONAL ARITHMETIC so the gate can hash the
    * scores (memory: exact-arithmetic tricks):
    *
    *   - idf: the probabilistic (log-free) form (N − df + ½)/(df + ½)
    *     = (2N − 2df + 1)/(2df + 1) — integer numerator and denominator;
    *   - tf normalization: tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) with
    *     k1 = 6/5, b = 3/4, avgdl = T/N becomes 22·tf·T / (10·T·tf +
    *     3·T + 9·dl·N) after clearing denominators (T = corpus tokens,
    *     N = corpus docs);
    *   - per-term score = floor(10^6 · idf · tfnorm), computed as ONE
    *     integer division `num div den` (`IntegralDivide`, exact
    *     truncation, identical to DuckDB `//` on positive operands) over
    *     decimal(38,0) products — HUGEINT on the oracle side. Headroom:
    *     at N = 10^11 docs / T = 10^14 tokens the numerator is ~4·10^34,
    *     inside 38 digits, so the formulation survives web scale.
    *
    * Scale shape: ONE corpus scan, audited (ReuseCheck: scans=1). The
    * query-term filter applies BEFORE the (doc, term) aggregate, so the
    * one shuffle carries only postings of queried terms — the
    * inverted-index probe pattern — and the aggregated postings frame is
    * materialized once (eager localCheckpoint; postings of a bounded
    * query workload, not corpus-sized). The global (N, T) stats ride the
    * SAME scan as `observe`d metrics fired by the checkpoint action (the
    * proven observe+localCheckpoint pattern from
    * [[graft.ops.ConnectedComponents]]) and enter the score as literals —
    * no second scan, no single-row nested-loop join. df re-aggregates the
    * checkpointed postings (vocabulary-sized) and broadcasts back.
    * Per-query top-k uses the q68/q73 bucket prefilter, so a stopword
    * query (candidate set ≈ corpus) never sorts in one partition. Both
    * orderings total (score desc, doc_id asc).
    */
  def q84Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val termSet = Bm25Queries.flatMap(_._2).distinct
    val obs = org.apache.spark.sql.Observation()
    val tf = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"), col("t"))
      .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("tt"))
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isInCollection(termSet))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val n = obs.get("n").asInstanceOf[Long]
    val tt = obs.get("tt").asInstanceOf[Long]
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Rank(tf
      .join(broadcast(terms), Seq("term"))
      .join(broadcast(dfreq), Seq("term")), n, tt)
  }

  /** The ONE copy of the exact-integer BM25 scoring tail (k1 = 1.2,
    * b = 0.75 in scaled rationals — the 22/10/3/9 coefficients below
    * encode k1 = 6/5 with denominators cleared, matching the shared
    * oracle) plus the two-stage bucketed top-K
    * window guard, shared by q84 (ad-hoc) and q206 (maintained index)
    * — the Spark-side twin of [[bm25OracleFor]]'s shared SQL. Input
    * frame: (query_id, doc_id, dl, term, tf, df).
    */
  private def bm25Rank(postings: DataFrame, n: Long, tt: Long): DataFrame = {
    def big(c: Column): Column = c.cast("decimal(38,0)")
    val ord = Seq(col("score").desc, col("doc_id").asc)
    val wBucket = Window.partitionBy(col("query_id"), col("__bucket")).orderBy(ord: _*)
    val wTop = Window.partitionBy(col("query_id")).orderBy(ord: _*)
    postings
      .withColumn("num",
        big(lit(Bm25Scale)) * big(lit(2L * n) - lit(2) * col("df") + lit(1))
          * big(lit(22)) * big(col("tf")) * big(lit(tt)))
      .withColumn("den",
        big(lit(2) * col("df") + lit(1))
          * (big(lit(10)) * big(lit(tt)) * big(col("tf"))
            + big(lit(3)) * big(lit(tt))
            + big(lit(9)) * big(col("dl")) * big(lit(n))))
      .withColumn("sc", expr("num div den"))
      .groupBy("query_id", "doc_id").agg(sum("sc").as("score"))
      .withColumn("__bucket", pmod(xxhash64(col("doc_id")), lit(Bm25Buckets)))
      .withColumn("__brank", row_number().over(wBucket))
      .filter(col("__brank") <= Bm25TopK)
      .drop("__bucket", "__brank")
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  val q84Oracle: String = bm25OracleFor(Bm25Queries)

  /** The BM25 oracle parameterized by the query workload — q84 (ad-hoc
    * scoring) and q206 (maintained postings index) share the exact
    * integer formula; only the query set differs. The df of a term is
    * unaffected by restricting tf to the query terms, so the same SQL
    * certifies both the filtered (q84) and index-wide (q206) builds.
    */
  private def bm25OracleFor(queries: Seq[(Long, Seq[String])],
      where: String = ""): String = {
    val termList = queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val queryRows = queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH lens AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS dl,
       |    regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents $where),
       |stats AS (SELECT count(*) AS n, sum(dl) AS tt FROM lens),
       |tok AS (SELECT doc_id, dl, unnest(t) AS term FROM lens),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
       |       WHERE term IN ($termList) GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |q(query_id, term) AS (VALUES $queryRows),
       |sc AS (
       |  SELECT q.query_id, tf.doc_id,
       |    CAST((CAST($Bm25Scale AS HUGEINT) * (2*s.n - 2*x.df + 1) * 22 * tf.tf * s.tt)
       |      // ((2*x.df + 1)
       |          * (10 * CAST(s.tt AS HUGEINT) * tf.tf + 3*s.tt + 9*tf.dl*s.n))
       |      AS BIGINT) AS sc
       |  FROM tf JOIN q ON q.term = tf.term JOIN dfx x ON x.term = tf.term, stats s),
       |agg AS (SELECT query_id, doc_id, sum(sc) AS score FROM sc GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY score DESC, doc_id) AS rank
       |      FROM agg)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       |  doc_id, CAST(score AS BIGINT) AS score
       |FROM r WHERE rank <= $Bm25TopK ORDER BY query_id, rank""".stripMargin
  }

  // --- Maintained BM25 postings index (q206) -------------------------------

  /** Index-layout version tag. */
  private val PostIdxTag = "v1"
  /** Term-hash shards of the postings layout — a probe reads only the
    * shards its query terms hash into. */
  private val PostIdxBuckets = 64

  /** q206's workload (disjoint from q84's, so the index path has
    * independent coverage). */
  private[queries] val Bm25IdxQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("scan", "filter"),
    2L -> Seq("vector", "merge"),
    3L -> Seq("batch", "order", "slow"))

  /** q206: MAINTAINED BM25 POSTINGS INDEX — q84's ranked retrieval the
    * way a search deployment runs it (the q205 posture for text): the
    * postings list (term, doc_id, dl, tf, df — df denormalized at
    * build) is published ONCE as a layout parquet-partitioned by a
    * 64-way term-hash shard, corpus stats (N, total tokens) as a
    * second 1-row layout, and a probe reads ONLY the shards its query
    * terms hash into — a STATIC `bucket IN (...)` partition filter
    * computed driver-side from the same xxhash64, visible as partition
    * pruning in the certified plan (spec-pinned). Scoring is q84's
    * exact-integer BM25 (k1=1.2, b=0.75 in scaled rationals) over the
    * probed postings only.
    *
    * Scale: the build is two corpus scans amortized by the publish
    * protocol; a probe touches |query-term shards|/64 of the postings
    * bytes, the workload table is a broadcast, and the top-K rides the
    * q84 two-stage bucketed-window guard — no corpus-sized sort.
    */
  def q206Bm25Index(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "documents")
    val postPath = Layouts.ensureDir(s, s"bm25post_${PostIdxTag}_$tag") { tmp =>
      val tf = documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          explode(col("t")).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(dfreq, Seq("term")) // both sides keyed on term — one exchange each
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(PostIdxBuckets)))
        .write.partitionBy("bucket").parquet(tmp)
    }
    val statsPath = Layouts.ensureDir(s, s"bm25stats_${PostIdxTag}_$tag") { tmp =>
      documents(s, d)
        .select(size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n"), sum("dl").as("tt"))
        .write.parquet(tmp)
    }
    // published 1-row stats — the documented bounded-collect pattern
    val st = s.read.parquet(statsPath).collect()(0)
    val (n, tt) = (st.getAs[Long]("n"), st.getAs[Long]("tt"))
    val terms = Bm25IdxQueries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // driver-side shard selection with the SAME hash the build used
    val qBuckets = Bm25IdxQueries.flatMap(_._2).distinct.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      java.lang.Math.floorMod(h, PostIdxBuckets.toLong)
    }.distinct
    bm25Rank(s.read.parquet(postPath)
      .filter(col("bucket").isInCollection(qBuckets)) // static shard pruning
      .join(broadcast(terms), Seq("term")), n, tt)
  }

  val q206Oracle: String = bm25OracleFor(Bm25IdxQueries)

  // --- Incremental BM25 postings maintenance (q211) -------------------------

  /** q211's workload (disjoint tuples from q84/q206, so the incremental
    * path has independent coverage). */
  private[queries] val Bm25IncQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("stream", "group"),
    2L -> Seq("join", "sort", "hash"),
    3L -> Seq("merge", "scan"))

  /** The base/delta snapshot split (deterministic, engine-portable):
    * 80% of docs are the base build, every 5th doc is the "newly
    * ingested" delta. */
  private def incIsBase: Column = pmod(col("doc_id"), lit(5)) =!= 0

  /** Append ONE snapshot's contribution to the decomposed BM25 index at
    * `dir` — the [[graft.streaming.IncrementalIndex]] batch_id protocol
    * applied to text retrieval. Unlike q206's build, df is NOT
    * denormalized into the postings rows (a new doc changes the df of
    * every term it shares with old docs — denormalization is exactly
    * what forbids appends); instead the layout is DECOMPOSED into three
    * batch_id-partitioned pieces that merge decomposably (the q131 MV
    * discipline):
    *
    *   - `postings/batch_id=N/bucket=B`: (term, doc_id, dl, tf) of this
    *     snapshot's docs only, term-hash sharded like q206;
    *   - `df/batch_id=N`: this snapshot's per-term doc counts (merge: +);
    *   - `stats/batch_id=N`: this snapshot's (n, tt) (merge: +).
    *
    * The append SCANS ONLY ITS OWN SNAPSHOT — cost grows with the delta,
    * never the corpus — and writes only its own batch partitions in
    * overwrite mode, so a crashed-and-replayed append rewrites its own
    * files instead of duplicating rows (replay idempotence, spec-pinned).
    */
  private[graft] def appendPostingsBatch(s: SparkSession, docs: DataFrame,
      dir: String, batchId: Long): Unit = {
    val tf = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    tf.withColumn("bucket", pmod(xxhash64(col("term")), lit(PostIdxBuckets)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/postings/batch_id=$batchId")
    tf.groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/df/batch_id=$batchId")
    docs.select(size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("tt"))
      .write.mode("overwrite").parquet(s"$dir/stats/batch_id=$batchId")
  }

  /** Probe the decomposed index: corpus stats and query-term df are
    * MERGED across batch partitions by + (both frames tiny: stats is
    * |batches| rows; df is filtered to the query terms BEFORE the merge,
    * with the filter pushed into the parquet scan), postings read under
    * the same driver-side static shard pruning as q206, scoring through
    * the ONE shared exact-integer tail. A probe is entirely
    * batch-count-agnostic — ingesting more snapshots changes nothing
    * here, which is the point.
    */
  private[graft] def probeBm25Index(s: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    import s.implicits._
    val termSet = queries.flatMap(_._2).distinct
    val st = s.read.parquet(s"$dir/stats")
      .agg(sum("n").as("n"), sum("tt").as("tt")).collect()(0)
    val (n, tt) = (st.getAs[Long]("n"), st.getAs[Long]("tt"))
    val dfm = s.read.parquet(s"$dir/df")
      .filter(col("term").isInCollection(termSet))
      .groupBy("term").agg(sum("df").as("df"))
    val terms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val qBuckets = termSet.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      java.lang.Math.floorMod(h, PostIdxBuckets.toLong)
    }.distinct
    val postings = s.read.parquet(s"$dir/postings")
      .filter(col("bucket").isInCollection(qBuckets))
    // forget-set masking (q222): postings rows of tombstoned docs are
    // still physically present until a vacuum — the probe drops them
    // with a broadcast anti-join (tombstone count is bounded between
    // vacuums, the same way delta count is bounded between compactions)
    val tombPath = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val live =
      if (tombPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .exists(tombPath))
        postings.join(broadcast(s.read.parquet(tombPath.toString)
          .select("doc_id")), Seq("doc_id"), "left_anti")
      else postings
    bm25Rank(live
      .join(broadcast(terms), Seq("term"))
      .join(broadcast(dfm), Seq("term")), n, tt)
  }

  /** q211: INCREMENTAL BM25 INDEX MAINTENANCE — what's missing from
    * q206's build-once layout on a live corpus: a new snapshot arrives
    * and the index must absorb it WITHOUT a rebuild. The layout is
    * decomposed (see [[appendPostingsBatch]]) so an ingest appends only
    * its own postings/df/stats deltas; the probe merges the decomposable
    * pieces and scores identically. The registered query builds the
    * index in two appends (80% base snapshot, then the 20% delta —
    * the second append scans ONLY the delta docs) and probes it; the
    * DuckDB oracle recomputes the SAME ranking from scratch over all
    * documents, so the gate passing IS the incremental == rebuild proof
    * at every scale factor (the q131 self-certification pattern).
    *
    * Scale: an ingest costs O(|delta|) scan + one vocabulary-sized df
    * delta; the probe touches |query-term shards|/64 of postings bytes
    * across all batch partitions plus two tiny merge frames. Batch
    * partitions per shard accumulate as snapshots land — a deployment
    * compacts old batches periodically (the q137/q123 maintained-layout
    * hygiene), which this layout supports by construction: compaction
    * is just re-appending merged partitions.
    */
  def q211IncrementalBm25(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "documents")
    val dir = Layouts.ensureDir(s, s"bm25inc_${PostIdxTag}_$tag") { tmp =>
      appendPostingsBatch(s, documents(s, d).filter(incIsBase), tmp, 0L)
      appendPostingsBatch(s, documents(s, d).filter(!incIsBase), tmp, 1L)
      Layouts.markComplete(s, tmp)
    }
    probeBm25Index(s, dir, Bm25IncQueries)
  }

  /** The rebuild-from-scratch formulation — passing it certifies
    * incremental == rebuild. */
  val q211Oracle: String = bm25OracleFor(Bm25IncQueries)

  // --- Right-to-be-forgotten on the maintained index (q222) ------------------

  /** q222's workload (tuples disjoint from q84/q206/q211, so the
    * forget path has independent coverage). */
  private[queries] val Bm25DelQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("scan", "hash"),
    2L -> Seq("filter", "sort", "stream"),
    3L -> Seq("group", "batch"))

  /** q222's forget set: every doc with doc_id ≡ 3 (mod 7) — cuts
    * across BOTH ingest batches, so the tombstones mask rows the
    * delete batch itself never wrote. */
  private def delVictims: Column = pmod(col("doc_id"), lit(7)) === 3

  /** Apply a FORGET SET to the decomposed BM25 index — the GDPR /
    * takedown path a maintained index needs beside q211's appends.
    * Scans ONLY the forgotten docs (O(|forget set|), never the corpus)
    * and writes, under its own batch id with the same overwrite-replay
    * idempotence as [[appendPostingsBatch]]:
    *
    *   - `tombstones/batch_id=N`: the forgotten doc_ids — the probe
    *     anti-joins postings against these until a vacuum;
    *   - `df/batch_id=N`: NEGATIVE per-term doc counts (the + merge
    *     absorbs them — df of the retained corpus, no special case);
    *   - `stats/batch_id=N`: negative (n, tt).
    *
    * The postings BYTES of forgotten docs survive until
    * [[vacuumPostings]] — the logical/physical split every deletion
    * system has (Delta deletion vectors, Lucene liveDocs): deletes are
    * cheap and immediate, space is reclaimed on schedule.
    */
  private[graft] def deletePostingsBatch(s: SparkSession, docs: DataFrame,
      dir: String, batchId: Long): Unit = {
    val tf = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    docs.select("doc_id").write.mode("overwrite")
      .parquet(s"$dir/tombstones/batch_id=$batchId")
    tf.groupBy("term").agg((count(lit(1)) * -1L).as("df"))
      .write.mode("overwrite").parquet(s"$dir/df/batch_id=$batchId")
    docs.select(size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
      .agg((count(lit(1)) * -1L).as("n"), (sum("dl") * -1L).as("tt"))
      .write.mode("overwrite").parquet(s"$dir/stats/batch_id=$batchId")
  }

  /** VACUUM — the physical purge behind the logical delete: rewrite
    * the postings minus tombstoned rows (every shard is potentially
    * affected — a doc's terms hash anywhere — so this is honestly a
    * full postings rewrite, the heavy scheduled op, like Delta VACUUM
    * after deletion vectors), swap it in with `Layouts.replace` (the
    * layout reads incomplete until the swap is done), then drop the
    * tombstones. The df/stats negative deltas STAY — they
    * already describe the retained corpus and keep merging by +.
    * Probe results are invariant across the vacuum (spec-pinned);
    * only where the truth lives changes: anti-join before, absent
    * bytes after.
    */
  private[graft] def vacuumPostings(s: SparkSession, dir: String): Unit = {
    val tomb = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = tomb.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(tomb)) return
    graft.sources.Layouts.replace(s, dir, "postings")(purgeTombstoned(s, dir))
    fs.delete(tomb, true)
  }

  /** The write of a vacuum: the postings of `dir` minus tombstoned docs,
    * under `to` — for [[graft.sources.Layouts.replace]] to swap in. */
  private[graft] def purgeTombstoned(s: SparkSession, dir: String)(to: String): Unit =
    s.read.parquet(s"$dir/postings")
      .join(broadcast(s.read.parquet(s"$dir/tombstones").select("doc_id")),
        Seq("doc_id"), "left_anti")
      .write.partitionBy("batch_id", "bucket").mode("overwrite").parquet(to)

  /** q222: FORGET-RIGHT EXECUTION ON THE MAINTAINED INDEX — the
    * operation q187's forget PLAN promises: a takedown/GDPR request
    * lands against the live decomposed BM25 index and must take effect
    * IMMEDIATELY without a rebuild. The registered query ingests the
    * corpus in q211's two snapshots, applies the forget set as a
    * tombstone batch ([[deletePostingsBatch]] — O(|forget set|), one
    * scan of the forgotten docs only), and probes: tombstones mask the
    * dead postings rows via a broadcast anti-join, and the df/stats
    * negatives merge by the same + as every other batch. The DuckDB
    * oracle recomputes the SAME ranking from scratch over ONLY the
    * retained documents, so the gate passing IS the proof that a
    * logical delete equals a rebuild on the retained corpus — ranks,
    * scores, AND the df environment (deleting docs changes every
    * shared term's idf; a tombstone-only design without df
    * compensation would rank wrong, which is exactly what the oracle
    * would catch). [[vacuumPostings]] then reclaims the bytes on
    * schedule; `IncrementalPostingsSpec` pins probe invariance across
    * the vacuum, physical absence of the forgotten doc_ids, and
    * replay idempotence of the delete batch.
    */
  def q222ForgetIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Layouts
    val tag = Layouts.srcTag(s, d, "documents")
    val dir = Layouts.ensureDir(s, s"bm25del_${PostIdxTag}_$tag") { tmp =>
      appendPostingsBatch(s, documents(s, d).filter(incIsBase), tmp, 0L)
      appendPostingsBatch(s, documents(s, d).filter(!incIsBase), tmp, 1L)
      deletePostingsBatch(s, documents(s, d).filter(delVictims), tmp, 2L)
      Layouts.markComplete(s, tmp)
    }
    probeBm25Index(s, dir, Bm25DelQueries)
  }

  /** Rebuild-from-scratch over the retained corpus only — passing it
    * certifies logical delete == rebuild, df environment included. */
  val q222Oracle: String =
    bm25OracleFor(Bm25DelQueries, "WHERE doc_id % 7 <> 3")

  // --- Token-budget waterfilling (q207) ------------------------------------

  /** q207: TOKEN-BUDGET WATERFILLING — the mixture-construction
    * allocator (the step between q69's fixed mixture weights and q93's
    * per-source caps): given per-source token capacities and a total
    * training-token budget (40% of the corpus here), find the fair
    * water level λ such that every source contributes min(capacity, λ)
    * and the allocations sum EXACTLY to the budget — small sources are
    * taken whole ("capped"), large ones are cut at λ, and the integer
    * remainder goes to the first `rem` uncapped sources in
    * (capacity, source) order, so the result is deterministic to the
    * token. The capped test `p_{i-1} + cap_i·(n-i+1) ≤ T` over the
    * capacity-sorted prefix is exact (capped sources form a prefix:
    * the test value is monotone in i), so no iteration is needed —
    * one sorted pass replaces the textbook binary search on λ.
    *
    * Scale: the corpus contributes ONE keyed token-count aggregate;
    * everything after runs on the |sources|-sized frame (the
    * single-partition windows are bounded by the source registry, the
    * q121 discipline).
    */
  def q207TokenBudget(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
      .groupBy("source").agg(sum("dl").as("cap"))
    val wOrd = Window.orderBy(col("cap").asc, col("source").asc)
    val wAll = Window.partitionBy()
    toks
      .withColumn("budget", expr("sum(cap) OVER () * 2 DIV 5"))
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("p", sum("cap").over(wOrd))
      .withColumn("capped",
        (col("p") - col("cap") + col("cap") * (col("n") - col("i") + 1)
          <= col("budget")).cast("long"))
      .withColumn("b", sum("capped").over(wAll))
      .withColumn("pb",
        sum(when(col("capped") === 1, col("cap")).otherwise(0L)).over(wAll))
      .withColumn("lam",
        expr("IF(n > b, (budget - pb) DIV (n - b), CAST(0 AS BIGINT))"))
      .withColumn("rem",
        expr("IF(n > b, (budget - pb) % (n - b), CAST(0 AS BIGINT))"))
      .withColumn("alloc_tokens", expr(
        "CASE WHEN capped = 1 THEN cap " +
        "WHEN i <= b + rem THEN lam + 1 ELSE lam END"))
      .select(col("source"), col("cap").as("cap_tokens"),
        col("alloc_tokens"), col("capped"),
        expr("alloc_tokens * 1000000 DIV budget").as("share_ppm"))
      .orderBy("source")
  }

  val q207Oracle: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |      AS cap
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, cap,
      |    CAST(sum(cap) OVER () * 2 // 5 AS BIGINT) AS budget,
      |    CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS n,
      |    CAST(sum(cap) OVER (ORDER BY cap, source
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
      |  FROM t),
      |c AS (
      |  SELECT *, CASE WHEN p - cap + cap * (n - i + 1) <= budget
      |    THEN 1 ELSE 0 END AS capped FROM w),
      |g AS (
      |  SELECT *, CAST(sum(capped) OVER () AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN capped = 1 THEN cap ELSE 0 END) OVER ()
      |      AS BIGINT) AS pb FROM c),
      |a AS (
      |  SELECT *,
      |    CASE WHEN n > b THEN (budget - pb) // (n - b) ELSE 0 END AS lam,
      |    CASE WHEN n > b THEN (budget - pb) % (n - b) ELSE 0 END AS rem
      |  FROM g),
      |f AS (
      |  SELECT source, cap, capped, budget,
      |    CASE WHEN capped = 1 THEN cap
      |         WHEN i <= b + rem THEN lam + 1 ELSE lam END AS alloc
      |  FROM a)
      |SELECT source, cap AS cap_tokens,
      |  CAST(alloc AS BIGINT) AS alloc_tokens,
      |  CAST(capped AS BIGINT) AS capped,
      |  CAST(alloc * 1000000 // budget AS BIGINT) AS share_ppm
      |FROM f ORDER BY source""".stripMargin

  /** Misra-Gries capacity for q85: tokens whose corpus share exceeds
    * 1/(HhK+1) ≈ 2.08% are guaranteed-reported. The fixture's 30 common
    * tokens sit near 3.3% each (reported); the rare `dup` token is ~0.1%
    * (filtered) — so the threshold discriminates at every SF. */
  private val HhK = 47

  /** q85: HEAVY HITTERS, exact via the TWO-PASS sketch — the scalable way
    * to find dominant tokens (stopword discovery, tokenizer-vocab seeding,
    * degenerate-content alarms) without ever shuffling the full
    * vocabulary:
    *
    *   Pass 1 — per-partition MISRA-GRIES with [[HhK]] counters inside
    *   `mapPartitions` (the documented last-resort seam: a decrement-all
    *   frequency sketch is genuinely imperative per-partition state no
    *   built-in aggregate expresses). MG guarantees every item with
    *   partition share > 1/(k+1) survives its partition, and by
    *   pigeonhole any GLOBALLY heavy token (freq·(k+1) > n) is heavy in
    *   ≥1 partition — so the unioned candidate set provably covers the
    *   answer REGARDLESS of row placement; partitioning cannot change
    *   the final result, only the candidate count. Each partition also
    *   emits its exact row total (null-token marker row), so the global
    *   n rides the same pass.
    *
    *   Pass 2 — exact recount of the ≤ partitions·k candidates: semi-join
    *   the token stream against the broadcast candidate set, ONE
    *   vocabulary-free aggregation (the shuffle carries only candidate
    *   tokens), then the exact integer threshold freq·(k+1) > n.
    *
    * The oracle needs none of the machinery: because the two-pass result
    * is exactly "tokens with freq·(k+1) > n", plain SQL counting is the
    * ground truth — the sketch is an execution strategy, not a semantic.
    * At 100 TB the candidate set is ≤ tasks·k keys (thousands), the
    * broadcast is bytes, and neither pass shuffles more than candidate
    * counts; a naive groupBy-all-tokens baseline shuffles the whole
    * vocabulary instead.
    */
  def q85HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tokens = documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
    val sketch = tokens.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var total = 0L
      while (it.hasNext) {
        val t = it.next(); total += 1
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < HhK => counters.update(t, 1L)
          case None =>
            // decrement-all (the arriving item's implicit 1 decrements to
            // 0, so it is not inserted); evict keys that reach zero
            counters.keys.toArray.foreach { k =>
              val v = counters(k)
              if (v == 1L) counters.remove(k) else counters.update(k, v - 1)
            }
        }
      }
      Iterator.single((null.asInstanceOf[String], total)) ++
        counters.keysIterator.map(k => (k, 0L))
    }.toDF("token", "cnt")
      // the sketch output is ≤ partitions·(k+1) rows; materializing it
      // keeps the totals and candidates branches from re-running the
      // sketch scan (ReuseCheck: 3 scans → the algorithmic minimum of 2)
      .localCheckpoint(eager = true)
    val totals = sketch.filter(col("token").isNull)
      .agg(sum("cnt").as("n"))
    val candidates = sketch.filter(col("token").isNotNull)
      .select("token").distinct()
    tokens
      .join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(totals))
      .filter(col("freq") * lit(HhK + 1L) > col("n"))
      .select(col("token"), col("freq"))
      .orderBy(col("freq").desc, col("token"))
  }

  val q85Oracle: String =
    s"""WITH t AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |n AS (SELECT count(*) AS n FROM t),
       |c AS (SELECT token, count(*) AS freq FROM t GROUP BY token)
       |SELECT token, freq FROM c, n
       |WHERE freq * ${HhK + 1} > n.n
       |ORDER BY freq DESC, token""".stripMargin

  private val TextRankIters = 3
  private val TextRankTopK = 20
  private val TextRankBase = 1000000L * 15L / 100L

  /** q87: TEXTRANK KEYWORDS — weighted PageRank ([[graft.ops.PageRank]],
    * fixed [[TextRankIters]] iterations) over the token ADJACENCY GRAPH:
    * nodes are tokens, a directed edge (u, v) weights how often v follows
    * u anywhere in the corpus. The stationary-importance scores this
    * converges toward are the classic TextRank keyword signal — tokens
    * that many distinct high-traffic tokens lead into outrank merely
    * frequent ones. All propagation arithmetic is integer floor division
    * (see the PageRank scaladoc), so three iterations produce identical
    * longs on both engines; the oracle unrolls the same three rounds as
    * chained CTEs with HUGEINT `//`.
    *
    * Scale shape: the corpus-sized work is the ONE bigram explode +
    * (src, dst) count shuffle (the q75 codegen path — integer-sequence
    * explode, element_at projection, no lambda); everything after lives
    * on the vocabulary²-bounded edge list, checkpointed once and
    * re-joined per iteration with rank-state-sized shuffles. Output is a
    * bounded TakeOrdered top-[[TextRankTopK]] under the total
    * (rank_score desc, token asc) order.
    */
  def q87TextRank(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val edges = documents(s, d)
      .select(t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(element_at(col("t"), col("i")).as("src"),
        element_at(col("t"), col("i") + 1).as("dst"))
      // self-loops (immediate token repetition — think "dup dup dup" in
      // boilerplate) would act as rank sinks recycling their own mass;
      // standard TextRank drops them
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    graft.ops.PageRank.ranks(edges, "src", "dst", "w", TextRankIters)
      .orderBy(col("rank_score").desc, col("node"))
      .limit(TextRankTopK)
      .select(col("node").as("token"), col("rank_score"))
  }

  val q87Oracle: String = {
    val iterCtes = (1 to TextRankIters).map { i =>
      s"""it$i AS (
         |  SELECT n.node,
         |    $TextRankBase
         |      + CAST((85 * coalesce(c.cs, CAST(0 AS HUGEINT))) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      sum((CAST(p.r AS HUGEINT) * e.w) // e.outw) AS cs
         |    FROM ew e JOIN it${i - 1} p ON p.node = e.src
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |g AS (
       |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
       |                               i -> t[i] || ' ' || t[i + 1])) AS gram
       |  FROM toks WHERE len(t) >= 2),
       |e AS (SELECT string_split(gram, ' ')[1] AS src,
       |        string_split(gram, ' ')[2] AS dst, count(*) AS w
       |      FROM g
       |      WHERE string_split(gram, ' ')[1] <> string_split(gram, ' ')[2]
       |      GROUP BY 1, 2),
       |outw AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
       |ew AS (SELECT e.src, e.dst, e.w, o.outw FROM e JOIN outw o USING (src)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT node AS token, CAST(r AS BIGINT) AS rank_score
       |FROM it$TextRankIters
       |ORDER BY rank_score DESC, token LIMIT $TextRankTopK""".stripMargin
  }

  /** q92: CROSS-SPLIT N-GRAM NOVELTY — the memorization-risk audit for a
    * train/val/test split: what fraction of each split's DISTINCT
    * trigrams already occurs in train? A validation set whose n-grams are
    * all train-covered measures recall of memorized text, not
    * generalization — this is the n-gram-level sharpening of the q83
    * document-level leakage audit, and it reuses the SAME split rule
    * (shared [[graft.ops.Splits]] cuts as q53), so the two audits can
    * never drift apart.
    *
    * Scale shape: ONE corpus explode into (split, trigram) with map-side
    * distinct aggregation (gram-vocabulary-sized shuffle, not
    * corpus-sized); the train-membership probe is a gram-keyed left join
    * between two vocabulary-sized sets; the rollup carries three rows.
    * The trigram build rides the q75 codegen path (integer-sequence
    * explode + element_at, no lambda).
    */
  def q92SplitNovelty(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    def el(k: Int): Column = element_at(col("t"), col("i") + k)
    val grams = documents(s, d)
      .select(Splits.assign(col("doc_id"), SplitCuts).as("split"), t.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("split"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i"), col("t"))
      .select(col("split"),
        concat_ws(" ", el(0), el(1), el(2)).as("gram"))
      .distinct()
      // gram-vocabulary-sized after the distinct; materializing it keeps
      // the train-set branch from re-reading the corpus (ReuseCheck: 1)
      .localCheckpoint(eager = true)
    val train = grams.filter(col("split") === "train")
      .select(col("gram").as("train_gram"))
    grams
      .join(train, grams("gram") === train("train_gram"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("train_gram").isNotNull, 1L).otherwise(0L))
          .as("n_in_train"),
        sum(when(col("train_gram").isNull, 1L).otherwise(0L)).as("n_novel"))
      .orderBy("split")
  }

  val q92Oracle: String =
    s"""WITH toks AS (
       |  SELECT ${Splits.assignSql("doc_id", SplitCuts)} AS split,
       |    regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT split,
       |    unnest(list_transform(generate_series(1, len(t) - 2),
       |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
       |  FROM toks WHERE len(t) >= 3),
       |tr AS (SELECT gram AS train_gram FROM g WHERE split = 'train')
       |SELECT split, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN tr.train_gram IS NOT NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_in_train,
       |  CAST(sum(CASE WHEN tr.train_gram IS NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_novel
       |FROM g LEFT JOIN tr ON tr.train_gram = g.gram
       |GROUP BY split ORDER BY split""".stripMargin

  private val QuotaK = 50
  private val QuotaBuckets = 32

  /** q93: PER-SOURCE QUOTA CAPPING — the domain-balancing curation step:
    * no source may contribute more than [[QuotaK]] documents, survivors
    * chosen by a deterministic priority (longest first, doc_id
    * tiebreak — a total order, so the kept set is engine- and
    * layout-independent). This is what keeps one mega-crawl domain from
    * dominating a training mixture; the audit reports, per source, how
    * many documents competed, how many survived the cap, and the
    * character volume kept vs dropped.
    *
    * Scale shape: per-group top-K without ever sorting a full group in
    * one task — the q68/q73 bucket prefilter (rank within
    * (source, hash-bucket), keep ≤ K per bucket, then rank the
    * ≤ buckets·K survivors per source). The audit joins the kept set's
    * per-source aggregate against the full per-source aggregate — both
    * source-count-sized after partial aggregation.
    */
  def q93QuotaCap(s: SparkSession, d: String): DataFrame = {
    val ord = Seq(col("n_chars").desc, col("doc_id").asc)
    val wBucket = Window.partitionBy(col("source"), col("__bucket")).orderBy(ord: _*)
    val wTop = Window.partitionBy(col("source")).orderBy(ord: _*)
    val docs = documents(s, d).select(col("source"), col("doc_id"), col("n_chars"))
    val kept = docs
      .withColumn("__bucket", pmod(xxhash64(col("doc_id")), lit(QuotaBuckets)))
      .withColumn("__brank", row_number().over(wBucket))
      .filter(col("__brank") <= QuotaK)
      .drop("__bucket", "__brank")
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= QuotaK)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("kept_chars"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .join(kept, "source")
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("kept_chars"), (col("total_chars") - col("kept_chars")).as("dropped_chars"))
      .orderBy("source")
  }

  val q93Oracle: String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY n_chars DESC, doc_id) AS rank
       |  FROM documents),
       |kept AS (SELECT source, count(*) AS n_kept,
       |           CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |         FROM r WHERE rank <= $QuotaK GROUP BY source),
       |tot AS (SELECT source, count(*) AS n_docs,
       |          CAST(sum(n_chars) AS BIGINT) AS total_chars
       |        FROM documents GROUP BY source)
       |SELECT source, n_docs, n_kept, kept_chars,
       |  total_chars - kept_chars AS dropped_chars
       |FROM tot JOIN kept USING (source) ORDER BY source""".stripMargin

  private val PmiMinCount = 3
  private val PmiTopK     = 100

  /** q95: COLLOCATION MINING — top bigrams by PMI lift, the phrase-
    * discovery step a tokenizer-training or stopword-curation pipeline
    * runs over a corpus. For a fixed corpus, PMI ranks identically to
    * the log-free lift c(w1 w2) / (c(w1)·c(w2)) — the corpus constants
    * N²/B inside `log` shift every score equally — so the score here is
    * the exact integer `c_pair · 10⁹ div (c_w1 · c_w2)` (decimal(38,0)
    * product, `IntegralDivide`, ≤ 10⁹ so the result is a BIGINT), and
    * the ranking is bit-identical across engines: no `log`, no ulp.
    *
    * Scale shape: ONE corpus scan. Unigram and bigram instances ride a
    * single explode of tagged (tag, gram) structs — the text column, which
    * is ~all the bytes at 100 TB, is decoded once, not once per n-gram
    * order. The (tag, gram) counts frame is vocabulary-sized (V + V²
    * types at worst, min-count-pruned on the bigram side) and is
    * materialized once (eager localCheckpoint) because it feeds three
    * consumers (unigram side ×2, bigram side). The two count joins hash
    * on the token, so a hot word's postings spread across partitions;
    * AQE may broadcast the unigram side when the vocabulary is small.
    * Top-K is a bounded TakeOrderedAndProject over a total order
    * (lift desc, w1, w2 — bigram key is unique).
    */
  def q95Collocations(s: SparkSession, d: String): DataFrame =
    collocationsAudit(documents(s, d))

  /** Core of q95 over any frame with a `text` column — see the q95
    * scaladoc for the scale shape. */
  private[queries] def collocationsAudit(docs: DataFrame): DataFrame = {
    val t = split(trim(lower(col("text"))), "\\s+")
    val unis = transform(col("t"), w => struct(lit("u").as("tag"), w.as("gram")))
    val bis = zip_with(
      slice(col("t"), lit(1), size(col("t")) - 1),
      slice(col("t"), lit(2), size(col("t")) - 1),
      (a, b) => struct(lit("b").as("tag"), concat(a, lit(" "), b).as("gram")))
    val counts = docs
      .select(t.as("t"))
      .select(explode(concat(unis, bis)).as("g"))
      .select(col("g.tag").as("tag"), col("g.gram").as("gram"))
      .groupBy("tag", "gram").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val uni = counts.filter(col("tag") === "u")
      .select(col("gram").as("w"), col("c").as("cw"))
    val pairs = counts.filter(col("tag") === "b" && col("c") >= PmiMinCount)
      .select(
        element_at(split(col("gram"), " "), 1).as("w1"),
        element_at(split(col("gram"), " "), 2).as("w2"),
        col("c").as("c_pair"))
    def big(c: Column): Column = c.cast("decimal(38,0)")
    pairs
      .join(uni.select(col("w").as("w1"), col("cw").as("c_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c_w2")), Seq("w2"))
      .withColumn("num", big(col("c_pair")) * big(lit(1000000000L)))
      .withColumn("den", big(col("c_w1")) * big(col("c_w2")))
      .withColumn("lift_ppb", expr("num div den").cast("long"))
      .select(col("w1"), col("w2"), col("c_pair"), col("c_w1"), col("c_w2"),
        col("lift_ppb"))
      .orderBy(col("lift_ppb").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val q95Oracle: String =
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |uc AS (SELECT w, count(*) AS cw
       |       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |bc AS (
       |  SELECT gram, count(*) AS c_pair FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i + 1])) AS gram
       |    FROM toks WHERE len(t) >= 2)
       |  GROUP BY gram HAVING count(*) >= $PmiMinCount),
       |j AS (SELECT split_part(gram, ' ', 1) AS w1,
       |        split_part(gram, ' ', 2) AS w2, c_pair FROM bc)
       |SELECT j.w1, j.w2, c_pair, u1.cw AS c_w1, u2.cw AS c_w2,
       |  CAST(CAST(c_pair AS HUGEINT) * 1000000000
       |       // (CAST(u1.cw AS HUGEINT) * u2.cw) AS BIGINT) AS lift_ppb
       |FROM j JOIN uc u1 ON u1.w = j.w1 JOIN uc u2 ON u2.w = j.w2
       |ORDER BY lift_ppb DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  private val DriftTopK    = 15
  private val DriftBuckets = 32

  /** q96: SPLIT-DISTRIBUTION DRIFT — per non-train split, the tokens
    * whose corpus share diverges most from train, i.e. the largest
    * per-token contributions to the total-variation distance between the
    * unigram distributions. This is the audit that catches a skewed
    * holdout (a topic or boilerplate string concentrated on one side of
    * the hash split) before it silently biases eval loss. The score is
    * the exact integer `|c_train·N_s − c_s·N_train| · 10⁹ div
    * (N_train·N_s)` = ⌊10⁹·|p_train − p_s|⌋ — cross-multiplication in
    * decimal(38,0), so no float division and the ranking is
    * bit-identical across engines (headroom: counts ≤ 10¹⁴ tokens keep
    * the numerator ≤ 10³⁷, inside 38 digits).
    *
    * Scale shape: ONE corpus scan into (split, token) counts,
    * materialized once (eager localCheckpoint, vocabulary-sized). The
    * three split totals are re-aggregated from that frame and enter the
    * plan as collected literals — three exact integers, the q84
    * observe-style pattern, so there is no single-row join. The
    * (split, token) universe is the vocabulary exploded over a literal
    * split array (no cross join), and both count lookups are hash joins
    * on the token. Per-split top-K uses the q68/q73 bucket prefilter;
    * ordering is total (drift desc, token asc).
    */
  def q96SplitDrift(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(Splits.assign(col("doc_id"), SplitCuts).as("split"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("split", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val totals = counts.groupBy("split").agg(sum("c").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTrain = totals.getOrElse("train", 0L)
    val others = SplitCuts.map(_._1).filter(sp => sp != "train" && totals.getOrElse(sp, 0L) > 0L)
    require(nTrain > 0L && others.nonEmpty, "drift audit needs train and one other split")
    val nOther = others.foldLeft(lit(0L)) { (acc, sp) =>
      when(col("split") === sp, lit(totals(sp))).otherwise(acc)
    }
    def big(c: Column): Column = c.cast("decimal(38,0)")
    val ord = Seq(col("drift_ppb").desc, col("w").asc)
    val wBucket = Window.partitionBy(col("split"), col("__bucket")).orderBy(ord: _*)
    val wTop = Window.partitionBy(col("split")).orderBy(ord: _*)
    counts.select(col("w")).distinct()
      .withColumn("split", explode(array(others.map(lit(_)): _*)))
      .join(counts.filter(col("split") === "train")
        .select(col("w"), col("c").as("c_train")), Seq("w"), "left")
      .join(counts.filter(col("split") =!= "train")
        .select(col("split"), col("w"), col("c").as("c_split")), Seq("split", "w"), "left")
      .na.fill(0L, Seq("c_train", "c_split"))
      .withColumn("n_split", nOther)
      .withColumn("num",
        abs(big(col("c_train")) * big(col("n_split"))
          - big(col("c_split")) * big(lit(nTrain))) * big(lit(1000000000L)))
      .withColumn("den", big(lit(nTrain)) * big(col("n_split")))
      .withColumn("drift_ppb", expr("num div den").cast("long"))
      .withColumn("__bucket", pmod(xxhash64(col("w")), lit(DriftBuckets)))
      .withColumn("__brank", row_number().over(wBucket))
      .filter(col("__brank") <= DriftTopK)
      .drop("__bucket", "__brank")
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= DriftTopK)
      .select(col("split"), col("rank"), col("w"), col("c_train"),
        col("c_split"), col("drift_ppb"))
      .orderBy("split", "rank")
  }

  val q96Oracle: String =
    s"""WITH toks AS (
       |  SELECT ${Splits.assignSql("doc_id", SplitCuts)} AS split,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |c AS (SELECT split, w, count(*) AS c FROM toks GROUP BY 1, 2),
       |n AS (SELECT split, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
       |u AS (SELECT n.split, n.n AS n_split, v.w
       |      FROM n, (SELECT DISTINCT w FROM c) v WHERE n.split <> 'train'),
       |j AS (
       |  SELECT u.split, u.w,
       |    COALESCE(tr.c, 0) AS c_train, COALESCE(o.c, 0) AS c_split,
       |    CAST(abs(CAST(COALESCE(tr.c, 0) AS HUGEINT) * u.n_split
       |              - CAST(COALESCE(o.c, 0) AS HUGEINT) * ntr.n)
       |         * 1000000000
       |         // (CAST(ntr.n AS HUGEINT) * u.n_split) AS BIGINT) AS drift_ppb
       |  FROM u
       |  CROSS JOIN (SELECT n FROM n WHERE split = 'train') ntr
       |  LEFT JOIN (SELECT w, c FROM c WHERE split = 'train') tr ON tr.w = u.w
       |  LEFT JOIN (SELECT split, w, c FROM c WHERE split <> 'train') o
       |    ON o.split = u.split AND o.w = u.w),
       |r AS (SELECT split, w, c_train, c_split, drift_ppb,
       |        row_number() OVER (PARTITION BY split
       |                           ORDER BY drift_ppb DESC, w) AS rank
       |      FROM j)
       |SELECT split, CAST(rank AS BIGINT) AS rank, w, c_train, c_split, drift_ppb
       |FROM r WHERE rank <= $DriftTopK ORDER BY split, rank""".stripMargin

  /** q100: ZIPF FREQUENCY-SPECTRUM AUDIT — the vocabulary's token counts
    * folded into power-of-two frequency bands (band = bit length of the
    * count, an EXACT integer via `length(bin(c))` — `floor(log2)+1`
    * without touching a float, where a libm `log2` could misband
    * counts adjacent to 2^k). A healthy natural-language corpus shows
    * the Zipf signature — type counts decaying geometrically across
    * bands while each band's occupancy share stays flat-ish; a scrape
    * gone wrong (boilerplate floods, truncation, synthetic spam) bends
    * this spectrum, which makes the ~64-row table a cheap corpus
    * fingerprint to diff between snapshots.
    *
    * Scale shape: the classic rank-frequency plot needs a GLOBAL sort of
    * the vocabulary — a single-partition rank at 10⁸ types. Banding by
    * count magnitude gives the same diagnostic from one vocabulary
    * aggregate plus a ≤ 64-row rollup: scan → (token) counts (map-side
    * partial) → map-side band → tiny agg; nothing after the first
    * shuffle exceeds the vocabulary, nothing sorts it. The share
    * denominator is a window over the ≤ 64-row band frame.
    * decimal(38,0) keeps `occurrences · 10⁶` exact at 10¹⁴ tokens.
    */
  def q100ZipfSpectrum(s: SparkSession, d: String): DataFrame = {
    def big(c: Column): Column = c.cast("decimal(38,0)")
    documents(s, d)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .groupBy(length(bin(col("c"))).cast("long").as("band"))
      .agg(count(lit(1)).as("n_types"), sum("c").as("occurrences"),
        min("c").as("min_c"), max("c").as("max_c"))
      .withColumn("num", big(col("occurrences")) * big(lit(1000000L)))
      .withColumn("den", big(sum(col("occurrences"))
        .over(Window.partitionBy())))
      .withColumn("share_ppm", expr("num div den").cast("long"))
      .select(col("band"), col("n_types"), col("occurrences"),
        col("min_c"), col("max_c"), col("share_ppm"))
      .orderBy(col("band").desc)
  }

  val q100Oracle: String =
    """WITH c AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)
      |  GROUP BY w),
      |b AS (
      |  SELECT CAST(length(bin(c)) AS BIGINT) AS band, count(*) AS n_types,
      |    CAST(sum(c) AS BIGINT) AS occurrences,
      |    min(c) AS min_c, max(c) AS max_c
      |  FROM c GROUP BY 1)
      |SELECT band, n_types, occurrences, min_c, max_c,
      |  CAST(CAST(occurrences AS HUGEINT) * 1000000
      |       // sum(occurrences) OVER () AS BIGINT) AS share_ppm
      |FROM b ORDER BY band DESC""".stripMargin

  // --- Per-source lexical statistics (q102) -------------------------------

  /** q102: LEXICAL-STATISTICS AUDIT — the per-source vocabulary profile
    * behind Heaps'-law monitoring: token volume, type count (vocabulary),
    * hapax and dis legomena (types seen exactly once / twice), and two
    * exact ppm ratios — hapax share of the vocabulary and the type-token
    * ratio. A source whose hapax share collapses is boilerplate-flooded
    * (few novel types per new token); one whose TTR spikes is likely
    * encoding-corrupted or template-generated gibberish (every "word"
    * novel). The reference's per-market row-count audit
    * (`scripts/integrate_weather_sales.py:47-61`) is the same
    * per-partition health-profile idea applied to a ticketing fact; a
    * text corpus profiles its lexicon instead.
    *
    * Scale shape: one corpus scan → explode → (source, token) counts
    * with map-side partial aggregation — the ONLY vocabulary-sized
    * shuffle — then a sources-sized conditional rollup (A5's COUNTIF
    * shape). No window, no join, no sort above |sources| rows. Ratios
    * are integer `·10⁶ div` (q99 pattern), so the table hashes
    * bit-identically across engines; longs hold the arithmetic through
    * 10¹³ tokens × 10⁹ types.
    */
  def q102VocabGrowth(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        count_if(col("c") === 1).as("hapax"),
        count_if(col("c") === 2).as("dis_legomena"))
      .withColumn("hapax_ppm", expr("hapax * 1000000L div vocab"))
      .withColumn("ttr_ppm", expr("vocab * 1000000L div n_tokens"))
      .orderBy("source")

  val q102Oracle: String =
    """WITH c AS (
      |  SELECT source, w, count(*) AS c FROM (
      |    SELECT source,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    count(*) AS vocab,
      |    count(*) FILTER (WHERE c = 1) AS hapax,
      |    count(*) FILTER (WHERE c = 2) AS dis_legomena
      |  FROM c GROUP BY 1)
      |SELECT source, n_tokens, vocab, hapax, dis_legomena,
      |  hapax * 1000000 // vocab AS hapax_ppm,
      |  vocab * 1000000 // n_tokens AS ttr_ppm
      |FROM r ORDER BY source""".stripMargin

  // --- Source vocabulary overlap (q103) -----------------------------------

  /** q103: SOURCE VOCABULARY-OVERLAP MATRIX — exact Jaccard similarity
    * between the vocabularies of every source pair: which domains speak
    * the same language (near-mirrors, syndication families, shared
    * templates) and which contribute genuinely distinct text. Where
    * q101 measures DOCUMENT-level flow (near-dup pairs rolled up to
    * sources), this measures LEXICON-level affinity — two sources can
    * share a vocabulary while sharing no document, and that distinction
    * (same register vs copied content) is exactly what a mixture
    * designer needs when weighting domains. The q99 basket machinery
    * applied to (token → sources) instead of (user-day → event types).
    *
    * Scale shape: one corpus scan collapses to DISTINCT (source, token)
    * — vocabulary-sized, orders below token volume — materialized once
    * (eager localCheckpoint; both self-join sides and the per-source
    * sizes read it, never the corpus again). The pair join is keyed on
    * token, so fan-out per token is ≤ |sources|² regardless of corpus
    * size, and per-source sizes are a |sources|-row broadcast. Output
    * is the |sources|²/2 upper triangle under a total order; Jaccard is
    * exact ppm (q99 pattern).
    */
  def q103SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .distinct()
      .localCheckpoint(eager = true)
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
    vocab.select(col("source").as("source_a"), col("w"))
      .join(vocab.select(col("source").as("source_b"), col("w")), Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("vocab_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("vocab_b"))),
        Seq("source_b"))
      .withColumn("jaccard_ppm",
        expr("inter * 1000000L div (vocab_a + vocab_b - inter)"))
      .select(col("source_a"), col("source_b"), col("inter"),
        col("vocab_a"), col("vocab_b"), col("jaccard_ppm"))
      .orderBy("source_a", "source_b")
  }

  val q103Oracle: String =
    """WITH v AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)),
      |s AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
      |  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, inter, sa.n AS vocab_a, sb.n AS vocab_b,
      |  CAST(inter * 1000000 // (sa.n + sb.n - inter) AS BIGINT) AS jaccard_ppm
      |FROM p
      |JOIN s sa ON sa.source = source_a
      |JOIN s sb ON sb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  // --- Context-length planning audit (q107) -------------------------------

  /** Candidate training context lengths the audit evaluates. */
  private[queries] val ContextLengths = Seq(128L, 256L, 512L, 1024L)

  /** q107: CONTEXT-LENGTH PLANNING AUDIT — for each candidate training
    * context length, what the naive one-document-per-sequence batching
    * would cost: documents longer than C lose their tail to truncation,
    * shorter ones pay padding to fill the sequence. The exact ppm of
    * corpus tokens lost and of sequence slots wasted, per C, is the
    * table that picks the context length (and decides whether q65-style
    * packing is worth its shuffle) BEFORE a training run burns the
    * compute — the complement of q65, which audits the packing a chosen
    * budget produces. The reference's threshold flags over ticket counts
    * (`scripts/clean_ticket_sales.py:96` binning facts against fixed
    * cutpoints) are the same fixed-cutpoint scan shape.
    *
    * Scale shape: ONE corpus scan projecting each document to its token
    * count (the only full-width read), a tiny explode over the
    * |lengths| candidate list, and a |lengths|-row rollup with map-side
    * combine — no join, no window, no shuffle wider than 4 rows of
    * longs. All ratios are exact integer ppm; longs hold
    * sum(min(tok, C)) · 10⁶ through 10¹³ tokens.
    */
  def q107ContextAudit(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    documents(s, d)
      .select(size(t).cast("long").as("tok"))
      .select(col("tok"), explode(
        array(ContextLengths.map(lit): _*)).as("ctx"))
      .groupBy("ctx")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        count_if(col("tok") > col("ctx")).as("n_truncated"),
        sum(greatest(col("tok") - col("ctx"), lit(0L))).as("tokens_lost"),
        sum(greatest(col("ctx") - col("tok"), lit(0L))).as("pad_tokens"))
      .withColumn("trunc_ppm", expr("tokens_lost * 1000000L div n_tokens"))
      .withColumn("pad_ppm", expr("pad_tokens * 1000000L div (n_docs * ctx)"))
      .orderBy("ctx")
  }

  val q107Oracle: String = {
    val lens = ContextLengths.mkString(", ")
    s"""WITH d AS (
       |  SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |x AS (SELECT tok, unnest([$lens]) AS ctx FROM d),
       |r AS (
       |  SELECT ctx, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
       |    count(*) FILTER (WHERE tok > ctx) AS n_truncated,
       |    CAST(sum(greatest(tok - ctx, 0)) AS BIGINT) AS tokens_lost,
       |    CAST(sum(greatest(ctx - tok, 0)) AS BIGINT) AS pad_tokens
       |  FROM x GROUP BY 1)
       |SELECT CAST(ctx AS BIGINT) AS ctx, n_docs, n_tokens, n_truncated,
       |  tokens_lost, pad_tokens,
       |  tokens_lost * 1000000 // n_tokens AS trunc_ppm,
       |  pad_tokens * 1000000 // (n_docs * ctx) AS pad_ppm
       |FROM r ORDER BY ctx""".stripMargin
  }

  // --- Mergeable-sketch vocabulary rollup (q123) --------------------------

  /** HLL precision: lgConfigK=14 → 16384 registers, relative standard
    * error ≈ 0.81% in dense mode; below a few thousand distincts the
    * DataSketches HLL is still in its exact coupon phases. The 5% audit
    * bound is therefore ≳6σ — deterministically TRUE on any healthy
    * input, false only on a genuinely broken sketch pipeline.
    */
  private val HllLgK = 14

  /** q123: MERGEABLE-SKETCH VOCABULARY ROLLUP — the incremental
    * count-distinct architecture a 100 TB warehouse actually runs.
    * Exact distinct counts do not compose: per-language vocabularies
    * cannot be summed into a per-source vocabulary (tokens are shared
    * across languages), so every exact rollup at a new granularity is
    * another full corpus scan. Sketches compose: a maintained layout
    * stores one HLL sketch of the token vocabulary per (source, lang) —
    * built ONCE per fixture ([[graft.sources.Layouts.ensureDir]], the
    * q79-index discipline, content-fingerprinted name) — and any
    * coarser rollup is a `hll_union_agg` over that tiny sketch table:
    * no corpus rescan, shuffle rows carry a fixed-size binary column.
    * On live ingest the same layout updates by sketching only the new
    * slice and unioning in — the entire reason production pipelines
    * keep sketch tables next to fact tables; the streaming half is
    * executable at [[graft.streaming.SketchMaintainer]] (per-micro-batch
    * sketch append + union-merge reads, replay-safe).
    *
    * The registered query merges the persisted sketches per source and
    * AUDITS them against the exact per-source vocabulary (one distinct
    * (source, token) aggregate — the expensive path the sketch table
    * exists to amortize; it runs here as the error certification, the
    * q59 discipline). Output: parts merged, exact vocabulary, and the
    * estimate-within-5% verdict. DuckDB cannot replay DataSketches
    * registers, so the oracle states the exact columns and pins the
    * verdicts TRUE — a false verdict fails the gate loudly.
    */
  def q123SketchRollup(s: SparkSession, d: String): DataFrame = {
    val skPath = graft.sources.Layouts.ensureDir(
      s, s"hllvocab_v1_lgk${HllLgK}_${graft.sources.Layouts.srcTag(s, d, "documents")}") { tmp =>
      documents(s, d)
        .select(col("source"), col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .groupBy("source", "lang")
        .agg(hll_sketch_agg(col("w"), HllLgK).as("sk"))
        .write.parquet(tmp)
    }
    val merged = graft.Tables.pathTable(s, skPath)
      .groupBy("source")
      .agg(count(lit(1)).as("n_parts"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = documents(s, d)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("source").agg(countDistinct(col("w")).as("vocab_exact"))
    merged.join(exact, Seq("source"))
      .select(col("source"), col("n_parts"), col("vocab_exact"),
        (abs(col("est") - col("vocab_exact"))
          <= col("vocab_exact") * lit(0.05)).as("hll_ok"))
      .orderBy("source")
  }

  val q123Oracle: String =
    """WITH v AS (
      |  SELECT source, lang, w FROM (
      |    SELECT source, lang,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)),
      |parts AS (SELECT source, count(DISTINCT lang) AS n_parts
      |          FROM v GROUP BY 1),
      |ex AS (SELECT source, count(DISTINCT w) AS vocab_exact
      |       FROM v GROUP BY 1)
      |SELECT source, CAST(n_parts AS BIGINT) AS n_parts,
      |  vocab_exact, TRUE AS hll_ok
      |FROM parts JOIN ex USING (source) ORDER BY source""".stripMargin

  // --- Theta-sketch vocabulary set algebra (q124) -------------------------

  /** Theta nominal entries: lgNomEntries=16 → 65536 retained hashes. A
    * sketch under that cardinality is in EXACT mode (theta = 1, every
    * hash kept), so intersections over the fixture vocabularies are
    * exact and the audit verdicts deterministic; past 65536 the sketch
    * samples and the estimate carries the documented theta error. */
  private val ThetaLgK = 16

  /** q124: THETA-SKETCH VOCABULARY SET ALGEBRA — what HLL cannot do:
    * set INTERSECTION. q103 computes exact lexicon overlap with a
    * token-keyed self-join — vocabulary-sized shuffle per run, repeated
    * for every pair. The theta-sketch path builds ONE sketch per source
    * (single corpus scan, fixed-size state) and then evaluates ANY pair
    * intersection with `theta_intersection` over the |sources|-row
    * sketch table — sources² pair evaluations over kilobyte sketches,
    * zero additional corpus reads. At a 10⁷-source crawl the exact
    * self-join is a standing cost per audit; the sketch table answers
    * interactively, which is why DataSketches theta is the standard
    * warehouse overlap operator.
    *
    * The registered query audits the sketch against q103's exact
    * machinery pair-by-pair: exact intersection (token-keyed join —
    * the certification cost, q59 discipline) beside the sketch verdict
    * |est − exact| ≤ max(5% · exact, 1). Oracle replays the exact side
    * (q103's chain) and pins verdicts TRUE. The sketches attach to the
    * exact pair list by two broadcast EQUI-joins on source — a
    * standalone sketch-only audit would instead enumerate the
    * |sources|²/2 triangle directly (a deliberate bounded cartesian
    * over kilobyte operands); the registered plan keys off the pair
    * list so the repo-wide no-nested-loop plan guard stays strict, and
    * both shapes drop pairs with an empty exact intersection.
    */
  def q124ThetaOverlap(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .distinct()
      .localCheckpoint(eager = true)
    val sk = vocab.groupBy("source")
      .agg(theta_sketch_agg(col("w"), ThetaLgK).as("sk"))
    val exact = vocab.select(col("source").as("source_a"), col("w"))
      .join(vocab.select(col("source").as("source_b"), col("w")), Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter_exact"))
    exact
      .join(broadcast(sk.select(col("source").as("source_a"), col("sk").as("sk_a"))),
        Seq("source_a"))
      .join(broadcast(sk.select(col("source").as("source_b"), col("sk").as("sk_b"))),
        Seq("source_b"))
      .withColumn("est",
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b"))))
      .select(col("source_a"), col("source_b"), col("inter_exact"),
        (abs(col("est") - col("inter_exact"))
          <= greatest(col("inter_exact") * lit(0.05), lit(1.0))).as("theta_ok"))
      .orderBy("source_a", "source_b")
  }

  val q124Oracle: String =
    """WITH v AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter_exact
      |  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, inter_exact, TRUE AS theta_ok
      |FROM p ORDER BY source_a, source_b""".stripMargin

  // --- Deterministic curriculum interleave (q127) -------------------------

  /** Positions materialized by the interleave audit. */
  private[queries] val InterleaveK = 40

  /** q127: DETERMINISTIC CURRICULUM INTERLEAVE — the feed order a
    * round-robin-by-source scheduler gives a training run: each source's
    * documents ranked by doc_id, then rank-1 docs of every source first
    * (source-ascending), then every rank-2 doc, and so on. Training jobs
    * need this order REPRODUCIBLE — a resumed or re-sharded run must see
    * the identical stream — which is why the order is a pure function of
    * (doc_id, source) and never of partition layout (the same property
    * q53 demands of splits: `randomSplit`-style order dependence breaks
    * on any repartition). The audit materializes the first
    * [[InterleaveK]] positions as the inspectable prefix.
    *
    * Scale shape: the per-source rank is a source-partitioned window —
    * sources are 10⁷⁺ at crawl scale, so partitions are fine-grained
    * (per-source skew is the q117 audit's job); the global (rank,
    * source) order materializes ONLY the top-K via limit pushdown
    * (TakeOrderedAndProject — no full sort, the q07/q68 discipline);
    * the position stamp is a window over the K-row result, not the
    * corpus.
    */
  def q127Interleave(s: SparkSession, d: String): DataFrame = {
    val wSrc = Window.partitionBy("source").orderBy("doc_id")
    val prefix = documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(wSrc).cast("long"))
      .orderBy(col("rn"), col("source"))
      .limit(InterleaveK)
    prefix
      .withColumn("position",
        row_number().over(Window.orderBy(col("rn"), col("source"))).cast("long"))
      .select(col("position"), col("source"), col("doc_id"), col("rn"))
      .orderBy("position")
  }

  val q127Oracle: String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |  FROM documents),
       |t AS (SELECT * FROM r ORDER BY rn, source LIMIT $InterleaveK)
       |SELECT CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS position,
       |  source, doc_id, CAST(rn AS BIGINT) AS rn
       |FROM t ORDER BY position""".stripMargin

  // --- Token-distribution drift between snapshots (q129) ------------------

  /** q129: TOKEN-DISTRIBUTION DRIFT — the monitoring table that catches a
    * crawl gone stale, a source changing register, or an extraction bug
    * shifting the token mix BETWEEN two snapshots of the same corpus:
    * per source, the exact total-variation distance between the token
    * distributions of the two slices (here the deterministic doc_id
    * parity split stands in for consecutive snapshots — the operator is
    * the comparison, not the slicing).
    *
    * TV = ½ · Σ_w |p_a(w) − p_b(w)| is computed entirely in integers by
    * cross-multiplying counts: Σ_w |c_a(w)·N_b − c_b(w)·N_a| over
    * (2·N_a·N_b), evaluated in decimal(38,0) (HUGEINT on the oracle
    * side — c·N at a 10¹²-token snapshot overflows a long), emitted as
    * exact ppm. TV is the right drift statistic here because it is
    * bounded [0, 1], symmetric, and defined even where one side's count
    * is zero — KL would need smoothing, and smoothing constants are
    * exactly the kind of cross-engine float hazard this repo bans.
    *
    * Scale shape: ONE corpus scan → (source, token) counts with a
    * conditional COUNT per side (map-side combine; nothing wider than
    * two longs per vocabulary row moves), per-source totals as a
    * |sources|-row broadcast, one vocabulary-sized |...| aggregate.
    */
  def q129DistDrift(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(col("source"), (col("doc_id") % 2 === 0).as("a"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .groupBy("source", "w")
      .agg(count_if(col("a")).as("c_a"), count_if(!col("a")).as("c_b"))
    val totals = counts.groupBy("source")
      .agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
    counts.join(broadcast(totals), Seq("source"))
      .groupBy("source")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        count(lit(1)).as("vocab_union"),
        sum(abs(col("c_a").cast("decimal(38,0)") * col("n_b")
          - col("c_b").cast("decimal(38,0)") * col("n_a"))).as("tv_num"))
      // TV is undefined when a slice is empty (a source whose docs all
      // land on one parity): explicit NULL, never a division error —
      // and a monitoring consumer treats NULL as "no comparison", not 0
      .withColumn("tv_ppm",
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST(tv_num * 1000000 div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) END"))
      .select(col("source"), col("n_a"), col("n_b"), col("vocab_union"),
        col("tv_ppm"))
      .orderBy("source")
  }

  val q129Oracle: String =
    """WITH t AS (
      |  SELECT source, doc_id % 2 = 0 AS a,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |c AS (SELECT source, w,
      |    count_if(a) AS c_a, count_if(NOT a) AS c_b
      |  FROM t GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(c_a) AS BIGINT) AS n_a,
      |          CAST(sum(c_b) AS BIGINT) AS n_b
      |        FROM c GROUP BY 1),
      |agg AS (
      |  SELECT c.source, max(tot.n_a) AS n_a, max(tot.n_b) AS n_b,
      |    count(*) AS vocab_union,
      |    sum(abs(CAST(c.c_a AS HUGEINT) * tot.n_b
      |            - CAST(c.c_b AS HUGEINT) * tot.n_a)) AS tv_num
      |  FROM c JOIN tot USING (source) GROUP BY c.source)
      |SELECT source, n_a, n_b, vocab_union,
      |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
      |    ELSE tv_num * 1000000 // (2 * CAST(n_a AS HUGEINT) * n_b) END AS BIGINT)
      |    AS tv_ppm
      |FROM agg ORDER BY source""".stripMargin

  // --- Sub-document duplicate mass (q133) ---------------------------------

  /** q133 chunk geometry: NON-overlapping 32-token spans (q61's chunker
    * with stride = length — dedup wants a partition of the text, not a
    * sliding cover, so each token is counted exactly once). */
  private val DupChunkLen = 32

  /** q133: SUB-DOCUMENT DUPLICATE MASS — the span-granular dedup audit
    * between q26 (whole-document exact dup) and q37/q44 (document-level
    * near-dup): chunk every document into non-overlapping
    * [[DupChunkLen]]-token spans, hash each span, and measure per source
    * how much of the corpus is REPEATED spans (templated boilerplate,
    * syndicated passages, quoted chains — mass that whole-doc dedup
    * never sees because the surrounding text differs). This is the
    * measurement half of RefinedWeb/CCNet-style sub-document dedup; the
    * ppm it reports is the upper bound on what span-level purging could
    * remove.
    *
    * A span is dup-eligible only at FULL length ([[DupChunkLen]] tokens):
    * tail fragments shorter than the window (a doc's last few tokens)
    * collide on trivial grounds and would inflate the signal — the
    * min-span threshold every substring-dedup system applies. Totals
    * still count every chunk, so the ppm denominator is the whole corpus.
    *
    * Shape: ONE explode scan (map-only chunker, q61) producing the
    * engine-portable 61-bit content hash per span
    * ([[graft.functions.PolyHash]] — the shuffle key is 8 bytes, never
    * the ~200-byte span text); one hash aggregate to the (source, hash)
    * frame; corpus-wide occurrence counts via an unordered window over
    * the hash partition of THAT distinct-span frame (distinct-span-sized,
    * not corpus-sized); a sources-row rollup. Nothing after the first
    * aggregate touches span text.
    */
  def q133ChunkDupmass(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val lastStart = expr(
      s"CAST(CASE WHEN n <= $DupChunkLen THEN 0 " +
        s"ELSE (n - 1) DIV $DupChunkLen END AS INT)")
    val chunkToks = slice(col("t"), col("chunk_id") * DupChunkLen + 1, lit(DupChunkLen))
    val pairs = documents(s, d)
      .select(col("source"), t.as("t"), size(t).as("n"))
      .select(col("source"), col("t"),
        explode(sequence(lit(0), lastStart)).as("chunk_id"))
      .select(col("source"),
        graft.functions.VectorExpressions.hornerHash(concat_ws(" ", chunkToks)).as("h"),
        size(chunkToks).as("ln"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("c"), max(col("ln")).as("ln"))
    val wH = Window.partitionBy("h")
    pairs
      .withColumn("nh", sum(col("c")).over(wH))
      .groupBy("source")
      .agg(sum(col("c")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        coalesce(sum(when(col("nh") > 1 && col("ln") === DupChunkLen, col("c"))),
          lit(0L)).as("n_dup_chunks"))
      .withColumn("dup_ppm", expr("n_dup_chunks * 1000000 DIV n_chunks"))
      .orderBy("source")
  }

  val q133Oracle: String =
    s"""WITH base AS (
       |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |ch AS (
       |  SELECT source,
       |    ${graft.functions.PolyHash.hornerSql(
    s"array_to_string(t[s * $DupChunkLen + 1 : s * $DupChunkLen + $DupChunkLen], ' ')")} AS h,
       |    len(t[s * $DupChunkLen + 1 : s * $DupChunkLen + $DupChunkLen]) AS ln
       |  FROM (SELECT source, t,
       |          unnest(generate_series(0,
       |            CASE WHEN len(t) <= $DupChunkLen THEN 0
       |                 ELSE (len(t) - 1) // $DupChunkLen END)) AS s
       |        FROM base)),
       |p AS (SELECT source, h, count(*) AS c, max(ln) AS ln
       |      FROM ch GROUP BY 1, 2),
       |w AS (SELECT source, h, c, ln,
       |        sum(c) OVER (PARTITION BY h) AS nh FROM p)
       |SELECT source, CAST(sum(c) AS BIGINT) AS n_chunks,
       |  count(*) AS n_distinct_chunks,
       |  CAST(coalesce(sum(CASE WHEN nh > 1 AND ln = $DupChunkLen THEN c END), 0)
       |    AS BIGINT) AS n_dup_chunks,
       |  CAST(coalesce(sum(CASE WHEN nh > 1 AND ln = $DupChunkLen THEN c END), 0)
       |    * 1000000 // sum(c) AS BIGINT) AS dup_ppm
       |FROM w GROUP BY source ORDER BY source""".stripMargin

  // --- Sub-document span purge (q193) --------------------------------------

  /** 2^61 − 1: checksum modulus (the [[q140TableChecksum]] discipline —
    * hash values are < 2^61, decimal(38,0)/HUGEINT sums have ~10^18
    * rows of headroom before the mod). */
  private val ChecksumMod = 2305843009213693951L

  /** SUB-DOCUMENT SPAN PURGE — the APPLY that q133 only measures: drop
    * every repeated [[DupChunkLen]]-token span corpus-wide, keeping the
    * FIRST occurrence, and rebuild each document from its surviving
    * chunks. This is the RefinedWeb/CCNet curation step between
    * whole-document dedup (q26/q72) and nothing: templated boilerplate,
    * syndicated passages and quoted chains are excised from otherwise
    * unique documents instead of either surviving wholesale or dragging
    * the whole document down.
    *
    * Semantics (deliberately the scalable chunk-partition rule, not
    * suffix-array exactness):
    *   - chunk geometry is EXACTLY q133's: non-overlapping
    *     [[DupChunkLen]]-token spans, tail fragment < window never
    *     dup-eligible (so short-tail collisions can't delete real text);
    *   - "first occurrence" is the corpus-global (doc_id, chunk_id)
    *     minimum per span hash — deterministic across runs, engines and
    *     partition layouts, and within-document repeats purge too;
    *   - output text is whitespace-normalized (single-space token join;
    *     the tokenizer's view of the document, same contract as every
    *     text operator here). Chunk-boundary alignment is the documented
    *     approximation: a repeated passage straddling chunk boundaries
    *     keeps its partial chunks (q88 measures those arbitrary-offset
    *     spans; a production pipeline runs this purge per q88-audit
    *     epoch).
    *
    * Scale shape: ONE explode scan produces 8-byte span hashes (never
    * shuffles span text); winners are a hash-keyed aggregate
    * (min(struct) — no window sort); the drop set joins back to the
    * hash frame and collapses to per-document sorted drop-lists,
    * materialized eagerly so the final join is SIZE-GUARDED the q72
    * way: AQE sees the true (typically tiny) runtime size and
    * broadcasts, while a 30%-duplicate crawl degrades to a shuffled
    * join instead of OOMing executors. The rebuild is then MAP-SIDE
    * over the documents scan — filter/transform/flatten higher-order
    * functions on the token array; corpus text crosses no exchange.
    */
  def spanPurge(docs: DataFrame): DataFrame = {
    val full = docChunks(docs)
    val winners = full.groupBy("h")
      .agg(count(lit(1)).as("nh"),
        min(struct(col("doc_id"), col("chunk_id"))).as("w"))
      .filter(col("nh") > 1)
    val dropLists = full.join(winners, Seq("h"))
      .filter(struct(col("doc_id"), col("chunk_id")) =!= col("w"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("chunk_id"))).as("drops"))
      .localCheckpoint(eager = true)
    applySpanDrops(docs, dropLists)
  }

  /** Discovery kernel: every FULL-length chunk of every document as
    * (doc_id, chunk_id, h) — 8-byte span hashes off one explode scan,
    * the q133 chunker. Shared by batch [[spanPurge]] and the streaming
    * twin ([[graft.streaming.SpanPurgeStream]]). */
  private[graft] def docChunks(docs: DataFrame): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val lastStart = expr(
      s"CAST(CASE WHEN n <= $DupChunkLen THEN 0 " +
        s"ELSE (n - 1) DIV $DupChunkLen END AS INT)")
    val chunkToks =
      slice(col("t"), col("chunk_id") * DupChunkLen + 1, lit(DupChunkLen))
    docs
      .select(col("doc_id"), t.as("t"), size(t).as("n"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), lastStart)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        graft.functions.VectorExpressions
          .hornerHash(concat_ws(" ", chunkToks)).as("h"),
        size(chunkToks).as("ln"))
      .filter(col("ln") === DupChunkLen)
      .drop("ln")
  }

  /** Apply kernel: rebuild each document from its surviving chunks,
    * map-side (higher-order functions over the token array; corpus text
    * crosses no exchange). `dropLists` is (doc_id, drops: array<int>) —
    * absent doc_id = untouched. Shared by [[spanPurge]] and the
    * streaming twin. */
  private[graft] def applySpanDrops(
      docs: DataFrame, dropLists: DataFrame): DataFrame =
    docs
      .join(dropLists, Seq("doc_id"), "left")
      .withColumn("t", split(trim(col("text")), "\\s+"))
      .withColumn("n", size(col("t")))
      .withColumn("kept_toks", expr(
        s"""flatten(transform(
           |  filter(sequence(0, CAST(CASE WHEN n <= $DupChunkLen THEN 0
           |                     ELSE (n - 1) DIV $DupChunkLen END AS INT)),
           |         c -> drops IS NULL OR NOT array_contains(drops, c)),
           |  c -> slice(t, c * $DupChunkLen + 1, $DupChunkLen)))""".stripMargin))
      .select(col("doc_id"), col("source"),
        concat_ws(" ", col("kept_toks")).as("text_purged"),
        col("n").cast("long").as("n_tokens"),
        size(col("kept_toks")).cast("long").as("kept_tokens"),
        (col("n") - size(col("kept_toks"))).cast("long").as("purged_tokens"))

  /** q193: SPAN-PURGE AUDIT — the per-source ledger the purge publishes:
    * documents touched, exact token mass removed (ppm of the corpus —
    * the realized fraction of q133's measured upper bound), and an
    * order-independent checksum of the REBUILT corpus (the q140
    * discipline) so the oracle certifies not just the counts but the
    * byte-identical purged text itself, cross-engine.
    */
  def q193SpanPurge(s: SparkSession, d: String): DataFrame =
    spanPurge(documents(s, d).select("doc_id", "source", "text"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("purged_tokens") > 0).as("docs_purged"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("purged_tokens")).as("tokens_purged"),
        sum(graft.functions.VectorExpressions.hornerHash(col("text_purged"))
          .cast("decimal(38,0)")).as("cs"))
      .select(col("source"), col("n_docs"), col("docs_purged"),
        col("n_tokens"), col("tokens_purged"),
        expr("CAST(tokens_purged * 1000000 DIV n_tokens AS BIGINT)")
          .as("purged_ppm"),
        expr(s"CAST(cs % $ChecksumMod AS BIGINT)").as("purged_checksum"))
      .orderBy("source")

  val q193Oracle: String = {
    import graft.functions.PolyHash.hornerSql
    s"""WITH base AS (
       |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, source, s AS cid,
       |    array_to_string(
       |      t[s * $DupChunkLen + 1 : s * $DupChunkLen + $DupChunkLen], ' ')
       |      AS ctext,
       |    len(t[s * $DupChunkLen + 1 : s * $DupChunkLen + $DupChunkLen])
       |      AS ln
       |  FROM (SELECT doc_id, source, t,
       |          unnest(generate_series(0,
       |            CASE WHEN len(t) <= $DupChunkLen THEN 0
       |                 ELSE (len(t) - 1) // $DupChunkLen END)) AS s
       |        FROM base)),
       |drops AS (
       |  SELECT doc_id, cid FROM (
       |    SELECT doc_id, cid,
       |      count(*) OVER (PARTITION BY h) AS nh,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, cid) AS rn
       |    FROM (SELECT doc_id, cid, ${hornerSql("ctext")} AS h
       |          FROM ch WHERE ln = $DupChunkLen))
       |  WHERE nh > 1 AND rn > 1),
       |reb AS (
       |  SELECT c.doc_id,
       |    coalesce(string_agg(c.ctext, ' ' ORDER BY c.cid)
       |      FILTER (WHERE d.doc_id IS NULL), '') AS text_purged,
       |    coalesce(sum(c.ln) FILTER (WHERE d.doc_id IS NULL), 0) AS kept,
       |    sum(c.ln) AS tot
       |  FROM ch c LEFT JOIN drops d
       |    ON d.doc_id = c.doc_id AND d.cid = c.cid
       |  GROUP BY c.doc_id),
       |per AS (
       |  SELECT b.doc_id, b.source, r.text_purged,
       |    len(b.t) AS n_tokens, r.tot - r.kept AS purged
       |  FROM base b JOIN reb r ON r.doc_id = b.doc_id)
       |SELECT source, count(*) AS n_docs,
       |  CAST(count_if(purged > 0) AS BIGINT) AS docs_purged,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(purged) AS BIGINT) AS tokens_purged,
       |  CAST(sum(purged) * 1000000 // sum(n_tokens) AS BIGINT)
       |    AS purged_ppm,
       |  CAST(sum(CAST(${hornerSql("text_purged")} AS HUGEINT))
       |    % $ChecksumMod AS BIGINT) AS purged_checksum
       |FROM per GROUP BY source ORDER BY source""".stripMargin
  }

  // --- Order-independent table checksum (q140) ----------------------------

  /** q140: MERGEABLE TABLE CHECKSUM — replication/ingest validation at
    * kilobyte cost: per source, an ORDER-INDEPENDENT fingerprint of the
    * full row content (doc_id | lang | text through the engine-portable
    * [[graft.functions.PolyHash]] row hash). Two replicas, two engine
    * versions, or a pre/post-migration pair compare equal iff their
    * (n_rows, sum, xor) triples match — without shipping or sorting a
    * single row. Every component is a COMMUTATIVE, ASSOCIATIVE aggregate,
    * which buys two properties a naive md5-of-sorted-dump lacks:
    * partition layout and row order cannot change the answer, and
    * partial checksums MERGE (shard fingerprints add/xor into the table
    * fingerprint; an append-only delta updates it incrementally — the
    * q131 MV discipline applied to integrity metadata).
    *
    * sum rides decimal(38,0)/HUGEINT before the final mod (row hashes
    * are < 2^30, so 10^38 headroom covers ~10^28 rows); xor needs no
    * widening (closed on 64 bits). min/max ride along as cheap
    * corruption locators. One scan, sources-row output.
    */
  def q140TableChecksum(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{PolyHash, VectorExpressions}
    val rowH = VectorExpressions.hornerHash(
      concat_ws("|", col("doc_id").cast("string"), col("lang"), col("text")))
    documents(s, d)
      .select(col("source"), rowH.as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("h").cast("decimal(38,0)")) % PolyHash.Mod)
          .cast("long").as("sum_mod"),
        expr("bit_xor(h)").as("xor_h"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .orderBy("source")
  }

  val q140Oracle: String = {
    import graft.functions.PolyHash
    s"""WITH r AS (
       |  SELECT source,
       |    ${PolyHash.hornerSql(
      "CAST(doc_id AS VARCHAR) || '|' || lang || '|' || text")} AS h
       |  FROM documents)
       |SELECT source, count(*) AS n_rows,
       |  CAST(sum(CAST(h AS HUGEINT)) % ${PolyHash.Mod} AS BIGINT) AS sum_mod,
       |  bit_xor(h) AS xor_h,
       |  min(h) AS min_h, max(h) AS max_h
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }
}
