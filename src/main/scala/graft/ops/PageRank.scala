package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed weighted PageRank with EXACT INTEGER arithmetic — the
  * importance-propagation step behind TextRank keyword extraction (q87),
  * domain-authority weighting of crawl corpora, and citation scoring.
  *
  * Reference scope: the reference pipeline has no graph operator at all;
  * this generalizes its per-key aggregation surface the same way
  * [[ConnectedComponents]] generalizes its duplicate-flagging. The two
  * modules deliberately share the iteration skeleton (eager
  * localCheckpoint per round, [[Snapshots.release]] of superseded
  * frontiers).
  *
  * Arithmetic contract (what makes the result hashable cross-engine):
  * float PageRank is order-dependent in its last ulp, so every division
  * here is an INTEGER FLOOR in decimal(38,0) — `HUGEINT` `//` on the
  * DuckDB side replays it bit-for-bit:
  *
  *   r_0(v)   = scale
  *   c_i(v)   = Σ_{(u,v,w)∈E} floor(r_i(u)·w / outw(u))
  *   r_i+1(v) = floor(scale·(den−num)/den) + floor(num·c_i(v)/den)
  *
  * with damping num/den (default 85/100). Dangling mass (nodes with no
  * out-edges) is dropped rather than redistributed — the standard "weak"
  * PageRank variant; redistribution would add a per-round global scalar
  * that is pure noise for ranking purposes. Ranks are longs: total mass
  * is bounded by nodes·scale, so per-node ranks fit 64 bits up to ~10^12
  * nodes at the default scale.
  *
  * 100 TB story: the expensive input (edge aggregation over a corpus) is
  * materialized ONCE via eager localCheckpoint, pre-joined with its
  * out-weight totals so every iteration is exactly ONE shuffle: ranks
  * hash-join edges (edge-partitioned), groupBy dst with map-side partial
  * sums, then a left join back to the node set (rank-state-sized, never
  * corpus-sized). Fixed iteration count — no convergence action — so an
  * N-iteration call runs N+1 jobs total. Frontier state is (node, long)
  * pairs, 16 bytes/node; each superseded round, and the edge and node
  * snapshots at the end, are released. The returned ranks read the last
  * round's snapshot, which therefore belongs to the result.
  */
object PageRank {

  /** Iterate weighted PageRank over a directed weighted edge list.
    *
    * @param edges DataFrame with (srcCol, dstCol, wCol); w must be a
    *              positive integral weight
    * @return DataFrame(node, rank_score) — one row per distinct endpoint
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
            iters: Int, scale: Long = 1000000L,
            dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen)
    val base = scale * (dampDen - dampNum) / dampDen
    // Materialize the (corpus-expensive) edge aggregation once, already
    // carrying each source's total out-weight — iterations never touch
    // the upstream plan again.
    val e = edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("long").as("w"))
    val ewo = e.join(e.groupBy("src").agg(sum("w").as("outw")), "src")
      .localCheckpoint(eager = true)
    // node set materialized ONCE: it is the left side of every
    // iteration's rank rebuild, and deriving it lazily would re-run the
    // union+distinct over the edge snapshot each round
    val nodes = ewo.select(col("src").as("node"))
      .unionByName(ewo.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = true)
    var ranks = nodes.withColumn("r", lit(scale)).localCheckpoint(eager = true)
    for (_ <- 1 to iters) {
      val contrib = ewo.join(ranks, ewo("src") === ranks("node"))
        .withColumn("c", expr(
          "(cast(r as decimal(38,0)) * cast(w as decimal(38,0)))" +
            " div cast(outw as decimal(38,0))"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum("c").as("cs"))
      val next = nodes.join(contrib, nodes("node") === contrib("cnode"), "left")
        .select(col("node"),
          (lit(base) + expr(
            s"(cast($dampNum as decimal(38,0)) * cast(coalesce(cs, 0) as decimal(38,0)))" +
              s" div cast($dampDen as decimal(38,0))")).as("r"))
        .localCheckpoint(eager = true)
      Snapshots.release(ranks)
      ranks = next
    }
    Snapshots.release(ewo)
    Snapshots.release(nodes)
    ranks.select(col("node"), col("r").as("rank_score"))
  }
}
