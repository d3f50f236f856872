package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by iterative min-label propagation —
  * the cluster-assignment step that turns duplicate-pair candidates (LSH
  * bands, n-gram Jaccard, embedding near-dup) into dedup groups with one
  * canonical representative per group.
  *
  * Reference scope: the reference pipeline only ever flags exact
  * duplicate-key rows (`scripts/clean_ticket_sales.py:116`,
  * `scripts/integrate_weather_sales.py:122` — `duplicated(subset=...)`
  * on pandas frames); a production training-data pipeline must also pick
  * ONE survivor per near-duplicate *cluster* (pairs (a,b) and (b,c) must drop two
  * of {a,b,c}, not one of each pair independently — independent pair
  * resolution can drop all three or keep two near-identical docs).
  *
  * Algorithm: every node starts labeled with its own id; each round every
  * node takes the min of its own label and its neighbors' labels. A round
  * is one shuffle (edge join + groupBy-min); the loop converges when no
  * label changed. Convergence is detected with a single scalar aggregate —
  * sum of labels — which is strictly monotone decreasing while any label
  * still changes (labels only ever decrease), so a change-count join is
  * never needed; the sum rides the round's own materialization job as an
  * `observe`d metric (one action, one shuffle per round). The sum is taken
  * in decimal(38,0) so the monotonicity check is exact at any node count.
  *
  * 100 TB story: plain propagation needs O(graph diameter) rounds, which
  * is the RIGHT trade for duplicate graphs specifically — near-dup
  * clusters are near-cliques (members are mutually similar, and LSH emits
  * most intra-cluster pairs), so the diameter is a small constant
  * regardless of corpus size and the loop runs 2–4 rounds of plain
  * hash-partitioned shuffles. General graphs with long chains (web link
  * graphs) would instead want the log-convergent large-star/small-star
  * contraction; that is deliberately out of scope for a dedup operator.
  * Each round materializes only (node, label) — 16 bytes/node — never the
  * document payload. Lineage is cut every round with an eager
  * localCheckpoint (persist alone would leave the logical plan nesting one
  * union+join level per round — exponential analysis cost). On a real
  * cluster with flaky executors, swap localCheckpoint for a reliable
  * `checkpoint` dir: the algorithm is unchanged, only the storage of the
  * per-round frontier. Each superseded round's snapshot and the edge
  * snapshot are released; the returned labels read the last round's
  * snapshot, which therefore belongs to the result.
  */
object ConnectedComponents {

  /** The observed-metric column computing the label checksum during the
    * SAME job that materializes a round: a separate `agg().head()` action
    * per round would double the per-round job count, and under contention
    * each extra job is an extra scheduling delay. coalesce: an empty edge
    * set (no duplicates found) must converge on the first round, not NPE
    * on a null sum.
    */
  private def checksumMetric: Column =
    coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("cs")

  /** Assign each node appearing in `edges` the minimum node id reachable
    * from it (its component representative).
    *
    * @param edges undirected edge list; self-loops and duplicates are fine
    * @return DataFrame(node, cluster_id) — one row per distinct endpoint
    */
  def assign(edges: DataFrame, srcCol: String, dstCol: String,
             maxIter: Int = 25): DataFrame =
    assignCounted(edges, srcCol, dstCol, maxIter)._1

  /** [[assign]] plus the number of rounds the propagation took to
    * converge (initialization round + propagation rounds including the
    * final no-change round that proves the fixpoint) — the scale-smoke
    * diagnostic: the dedup-cluster contract is that this stays a small
    * constant as the corpus grows. Returned PER CALL rather than parked
    * in object state, so concurrent invocations (parallel suites, two
    * dedup queries in one session) can never clobber each other's
    * reading.
    */
  def assignCounted(edges: DataFrame, srcCol: String, dstCol: String,
                    maxIter: Int = 25): (DataFrame, Int) = {
    val src = col(srcCol).cast("long").as("src")
    val dst = col(dstCol).cast("long").as("dst")
    // Materialize the (usually expensive — LSH, pairwise-scoring) edge
    // plan ONCE before symmetrizing: a plain union of two selects over
    // `edges` would evaluate that upstream plan twice in the first job.
    val e0 = edges.select(src, dst).localCheckpoint(eager = true)
    // Symmetrize once; both propagation directions come from this frame.
    val sym = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // localCheckpoint (not persist): persist caches data but the logical
    // plan still nests one level per round — by round ~8 the accumulated
    // union/join tree is exponential and analysis itself OOMs. Checkpoint
    // materializes the labels AND truncates lineage, so every round plans
    // against a flat scan of the previous round's result.
    // Initialization IS round 1: with L0(v) = v, the first propagation
    // round computes L1(v) = min(v, min of v's neighbors) — exactly one
    // groupBy-min over the symmetric edges. Starting from L1 saves a full
    // checkpoint+checksum round on every invocation.
    // Each round is therefore ONE action (observe folds the convergence
    // checksum into the checkpoint job) running ONE shuffle.
    def round(plan: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = Observation()
      val df = plan.observe(obs, checksumMetric).localCheckpoint(eager = true)
      (df, obs.get("cs").asInstanceOf[java.math.BigDecimal])
    }

    val t0 = System.nanoTime()
    var (labels, sumPrev) = round(
      sym.groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("mn"))
        .select(col("node"), least(col("node"), col("mn")).as("cluster_id")))
    System.err.println(f"[cc] round=1 dt=${(System.nanoTime() - t0) / 1e9}%.2fs")
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val tr = System.nanoTime()
      // neighbor labels + own label → min per node. The groupBy reuses the
      // hash partitioning of the join output when keys align; either way a
      // round is exactly one shuffle of (node, label) pairs.
      val (next, sumNext) = round(
        sym.join(labels, sym("src") === labels("node"))
          .select(col("dst").as("node"), col("cluster_id"))
          .unionByName(labels)
          .groupBy("node")
          .agg(min("cluster_id").as("cluster_id")))
      Snapshots.release(labels)
      labels = next
      converged = sumNext.compareTo(sumPrev) == 0
      sumPrev = sumNext
      it += 1
      // Per-round wall time on stderr: under a contended environment the
      // log then shows which round stalled, scheduling vs compute.
      System.err.println(
        f"[cc] round=${it + 1} dt=${(System.nanoTime() - tr) / 1e9}%.2fs converged=$converged")
    }
    require(converged,
      s"connected components did not converge in $maxIter rounds — " +
        "graph diameter exceeds the dedup-cluster assumption")
    sym.unpersist(blocking = false)
    Snapshots.release(e0)
    (labels, it + 1)
  }

  /** `assign` plus per-cluster size, the usual dedup-report shape. */
  def withSizes(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val labels = assign(edges, srcCol, dstCol)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("node"), col("cluster_id"), col("cluster_size"))
  }
}
