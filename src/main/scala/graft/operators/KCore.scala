package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the fourth graph kernel next
  * to PageRank (q81), connected components (q61/q104) and triangle counting
  * (q184). The k-core is the maximal subgraph where every vertex keeps
  * degree ≥ k; one peel round drops every vertex below k and restricts the
  * edge set to survivors, and the fixpoint of that map IS the core
  * (Seidman 1983; the distributed formulation is Montresor et al.'s
  * degree-exchange peel).
  *
  * Scale shape per round: one degree census (map-side-combined groupBy) and
  * two left-semi joins against the ≤V-row keep set — all key-partitioned
  * exchanges, no fan-out, and the edge relation only ever SHRINKS, so round
  * cost is monotone non-increasing. Each round's result is
  * `localCheckpoint`ed (the Components posture): lineage stays O(1) per
  * round instead of compounding the 3-join plan `rounds` times.
  *
  * Fixed-round posture for the oracle (q187): a SQL oracle cannot loop, so
  * the query states R peel rounds as chained CTEs and emits a `converged`
  * column comparing the last two edge sets — true on the fixtures (the
  * 2-core of the spatial graph converges in ≤ 2 peels at every SF), and the
  * honest signal if a regenerated fixture ever needs more rounds. A
  * production run on an unbounded graph would instead drive the peel
  * through [[Fixpoint.converge]], its progress the edges a round dropped,
  * counted on the round's own checkpoint by [[Fixpoint.checkpoint]].
  */
object KCore {

  /** One peel round: restrict `e` (columns u, v) to endpoints of degree ≥ k. */
  def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val keep = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
      .where(col("dg") >= k).select("id")
    e.join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
      .select("u", "v")
  }

  /** Edge relations after 0..rounds peels (index 0 = the input, checkpointed
    * once so every round reads materialized edges, not the builder plan).
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): IndexedSeq[DataFrame] = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got k=$k rounds=$rounds")
    val states = Vector.newBuilder[DataFrame]
    var e = edges.localCheckpoint()
    states += e
    (1 to rounds).foreach { _ =>
      e = peelOnce(e, k).localCheckpoint()
      states += e
    }
    states.result()
  }

  /** Vertices of the final peeled subgraph with their in-subgraph degree. */
  def coreVertices(e: DataFrame): DataFrame =
    e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
}
