package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components over a DIRECTED edge relation — the
  * directed dual of [[Components]]: a vertex pair lands in the same SCC
  * only when each can reach the other, so min-label propagation alone
  * (which certifies one-directional reachability) cannot label it. Unlike
  * the undirected case there is no single-pass dataflow trick; the exact
  * formulations are (a) transitive closure + mutual-reachability, or
  * (b) recursive forward-backward pivot decomposition (Fleischer et al.,
  * "On Identifying Strongly Connected Components in Parallel", 2000).
  *
  * This operator implements (a) by SEMI-NAIVE closure: the delta frontier
  * is joined to the edge relation each round, so round k adds exactly the
  * pairs whose shortest path is k — each round is one equi-join + one
  * anti-join (no all-pairs product), converging in O(longest shortest
  * path) rounds. [[Fixpoint.converge]] drives the rounds; each round's
  * new-pair count rides that round's checkpoint job.
  *
  * Scale contract (stated, not hidden): transitive closure materializes
  * O(n · avg-reach) pairs, so this is the right operator for
  * BOUNDED-CARDINALITY vertex domains — dimension-level graphs (nations,
  * categories, event types, services in a call graph), where n is
  * thousands at most and the closure is tiny next to the fact tables the
  * edges were aggregated from. For billion-vertex graphs the FW-BW pivot
  * decomposition is the scale path; the 100 TB pipeline rolls facts up to
  * a dimension graph first (exactly what q378 does), which is where SCC
  * questions ("which markets form a feedback loop?") actually live.
  */
object Scc {

  /** Transitive closure of `edges` via semi-naive iteration:
    * (a, b) ∈ result iff a reaches b through ≥1 edge (NO identity rows —
    * (a, a) present iff a lies on a directed cycle, which is exactly the
    * signal SCC labeling needs).
    */
  def closure(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src")).localCheckpoint()

    val reach0 = e.select(col("src").as("a"), col("dst").as("b")).localCheckpoint()
    Fixpoint.converge("Scc.closure", (reach0, reach0), maxIter) {
      case (reach, delta) =>
        // semi-naive step: only the last round's NEW pairs extend by one
        // edge; progress is their count, observed on their own checkpoint
        val (fresh, Seq(n)) = Fixpoint.checkpoint(
          delta.join(e, col("b") === col("src"))
            .select(col("a"), col("dst").as("b"))
            .except(reach),
          count(lit(1)))
        ((reach.unionByName(fresh).localCheckpoint(), fresh), n)
    }._1
  }

  /** SCC labels: (id, scc) for every vertex appearing in `edges`, where
    * scc = min(id, all mutually-reachable ids) — the canonical minimum-
    * member labeling, matching [[Components]]' undirected contract.
    * Singletons (vertices on no directed cycle) label themselves.
    */
  def stronglyConnected(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val e = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val reach = closure(e, "src", "dst", maxIter)
    val mutual = reach.as("r1").join(
        reach.as("r2"),
        col("r1.a") === col("r2.b") && col("r1.b") === col("r2.a"))
      .select(col("r1.a").as("ida"), col("r1.b").as("idb"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    nodes.join(mutual, col("id") === col("ida"), "left")
      .groupBy("id")
      .agg(min("idb").as("m"))
      .select(col("id"),
        least(col("id"), coalesce(col("m"), col("id"))).as("scc"))
  }
}
