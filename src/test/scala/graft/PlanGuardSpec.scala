package graft

import java.time.Instant

import jdk.jfr.consumer.RecordedEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Fleet-wide guards over EVERY registered query, built once each:
  *
  *  - scale killer: fails if a nested-loop join (CartesianProduct /
  *    BroadcastNestedLoopJoin) appears in a physical plan outside the
  *    explicit allowlist of queries where the shape is intentional and
  *    bounded. A refactor that silently degrades an equi-join into a
  *    nested loop — the classic 100 TB catastrophe — fails CI instead of
  *    surfacing as a bench regression.
  *  - storage leak: fails if building a query leaves a persisted RDD
  *    that its result does not read. A snapshot the result reads belongs
  *    to the result (Spark frees it once the frame is dropped); any other
  *    must be released by the function that made it
  *    ([[graft.ops.Snapshots]]). An unreleased snapshot keeps its blocks
  *    in storage memory for whatever runs next.
  *  - process forks: fails if building a query makes Hadoop fork a shell
  *    command (`chmod`, `readlink`, ...). Without libhadoop its stock
  *    local filesystem forks one per file create, mode change or link
  *    lookup; `file:` resolves to the `java.nio` one in
  *    [[graft.sources.NioLocalFileSystem]], which forks none.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries where a nested-loop operator is deliberate AND bounded. */
  private val intentional: Map[String, String] = Map(
    "q13_cross_join" -> "reference semantics: 25x5 dim cross join",
    "q24_cosine_topk" -> "broadcast of the single query vector (1 row)",
    "q43_quantized_topk" -> "broadcast of the single query vector (1 row)",
    "q106_ivf_recall" -> "broadcast of the query sample (hard-capped at RecallMaxQueries rows)",
    "q194_retrieval_metrics" -> "broadcast of the query sample (same doubly-bounded q106 panel)",
    "q195_ivf_sweep" -> "broadcast of the query sample (same doubly-bounded q106 panel)",
    "q28_ngram_jaccard" -> "all-pairs over an explicitly bounded candidate set (src0+en)",
    "q77_semantic_dedup" -> "broadcast of the corpus-proportional centroid set (argmax assignment needs all K per vector)",
    "q81_kmeans_step" -> "broadcast of the corpus-proportional centroid set (argmax assignment needs all K per vector)",
    "q85_heavy_hitters" -> "broadcast of the single-row corpus token total",
    "q112_maxsim" -> "broadcast of the bounded multi-vector query set (|MaxSimQLabels|*MaxSimQVecs rows)",
    "q115_hard_negatives" -> "broadcast of the corpus-proportional centroid set (argmax assignment needs all K per vector)",
    "q166_semantic_leak" -> "broadcast of the corpus-proportional centroid set (argmax assignment needs all K per vector)",
    "q130_join_card" -> "sketch attachment over 1-row-per-table aggregates (constant key folds away)",
    "q164_assoc_rules" -> "broadcast of the single-row basket-count total (q85/q201 discipline)",
    "q192_also_bought" -> "broadcast of the single-row basket-count total (q85/q201 discipline)",
    "q201_bigram_lm" -> "broadcast of the single-row train-token total (q85 discipline)",
    "q210_pq_adc" -> "broadcast of the query sample (same doubly-bounded q106 panel; exact ground-truth leg)",
    "q252_ivfadc_drift" -> "broadcast of the query sample (doubly-bounded q106 panel; exact ground-truth leg of the drift audit)",
    "q212_xmodal_metrics" -> "broadcast of the query sample (doubly-bounded image-kind panel)",
    "q216_diversity_sample" -> "broadcast of the corpus-proportional centroid set (argmax assignment needs all K per vector)",
    "q219_curation_ab" -> "broadcast of the single-row train-token totals, one per variant (q85/q201 discipline)")
  // The guard sees the returned plan only. A query whose function runs
  // an eager loop (q63's component labels over a q28-shaped jaccard arm)
  // returns a plan that reads the loop's snapshot, so the edge-generation
  // plans are guarded through the queries that return them (q28/q44).

  /** Ids of the persisted RDDs `df` reads: snapshot leaves and the
    * buffers of cached fragments, subqueries included. */
  private def readRdds(df: DataFrame): Set[Int] =
    df.queryExecution.withCachedData.collectWithSubqueries {
      case l: LogicalRDD => l.rdd.id
      case m: InMemoryRelation => m.cacheBuilder.cachedColumnBuffers.id
    }.toSet

  /** Per query: (plans a nested loop, persisted RDD ids left unread,
    * the processes Hadoop's `Shell` started while building it). One
    * recording covers the sweep; a query owns the spawns from the start
    * of its build to the start of the next. */
  private lazy val sweep: Map[String, (Boolean, Set[Int], Seq[RecordedEvent])] = {
    val (built, spawned) = Spawns.by(SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val start = Instant.now()
        val (df, left) = persistedBy(fn(spark, "/root/testdata/sf0.001"))
        val plan = df.queryExecution.sparkPlan.toString
        (name, start, plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin"), left -- readRdds(df))
    })
    val shell = Spawns.hadoopShell(spawned).groupBy { e =>
      built.takeWhile(!_._2.isAfter(e.getStartTime)).lastOption.getOrElse(built.head)._1
    }
    built.map { case (name, _, nested, unread) =>
      name -> ((nested, unread, shell.getOrElse(name, Nil)))
    }.toMap
  }

  test("no unintentional nested-loop join in any registered physical plan") {
    val nestedByName = sweep.map { case (name, (nested, _, _)) => name -> nested }
    val offenders = nestedByName.collect {
      case (name, true) if !intentional.contains(name) => name
    }
    assert(offenders.isEmpty,
      s"nested-loop join leaked into: ${offenders.mkString(", ")}")
    // the allowlist must not go stale either: every entry really does
    // plan a (bounded, intentional) nested loop
    val stale = intentional.keys.filterNot(nestedByName.getOrElse(_, false))
    assert(stale.isEmpty, s"allowlist entries without a nested loop: $stale")
  }

  test("no registered query leaves a persisted RDD its result does not read") {
    val leaks = sweep.collect {
      case (name, (_, unread, _)) if unread.nonEmpty => s"$name -> rdd ${unread.mkString(",")}"
    }
    assert(leaks.isEmpty, s"unreleased snapshots: ${leaks.toSeq.sorted.mkString("; ")}")
  }

  test("no registered query makes Hadoop fork a shell command") {
    val forked = sweep.collect {
      case (name, (_, _, shell)) if shell.nonEmpty => s"$name: ${Spawns.census(shell)}"
    }
    assert(forked.isEmpty, s"Hadoop shell forks: ${forked.toSeq.sorted.mkString("; ")}")
  }
}
