package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal independent set by Luby's algorithm (Luby, SIAM J. Comput.
  * 1986) — THE distributed symmetry-breaking primitive, and the dedup
  * pipeline's diversity selector: on a near-duplicate similarity graph, a
  * maximal independent set is a largest-possible "keep set" in which no
  * two kept items are near-duplicates of each other, found in O(log n)
  * rounds without any sequential greedy scan.
  *
  * Round r over the still-alive subgraph: a vertex joins the MIS when its
  * priority is strictly smaller than every ALIVE neighbor's (isolated
  * vertices join unconditionally); MIS members and their neighbors then
  * leave the alive set. Determinism: the caller supplies the priority
  * column — a salted hash with the vertex id folded in (so priorities are
  * UNIQUE — ties between adjacent vertices would deadlock the round).
  *
  * Scale shape: each round is one edge-keyed exchange (alive neighbors'
  * min priority) + one anti-join (remove decided) over a monotonically
  * shrinking vertex set — with random priorities the alive set falls by
  * a constant factor per round in expectation, so O(log n) rounds; each
  * round's alive set is a [[Fixpoint.checkpoint]], which truncates the
  * growing plan and counts the survivors in the same job.
  */
object Mis {

  /** Exactly `rounds` Luby rounds. Returns one row per DECIDED vertex:
    * (id, round, selected) — `selected` = joined the MIS at `round`;
    * !selected = removed at `round` as a MIS neighbor. Vertices still
    * alive after `rounds` are absent (the caller decides whether that is
    * an error — a fixpoint run asserts emptiness, a census reports it).
    * `vertices` must carry (id, prio) with prio unique across vertices.
    */
  def lubyRounds(
      edges: DataFrame,
      vertices: DataFrame,
      rounds: Int): DataFrame = {
    val sym = edges
      .select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .union(edges.select(col("dst").cast("long"), col("src").cast("long")))
      .distinct()
      .repartition(col("a")).localCheckpoint()

    var (alive, Seq(nAlive)) = Fixpoint.checkpoint(vertices
      .select(col("id").cast("long").as("id"), col("prio").cast("long").as("prio")),
      count(lit(1)))
    var decided = alive.sparkSession.emptyDataFrame
      .withColumn("id", lit(0L)).withColumn("round", lit(0L))
      .withColumn("selected", lit(false))
      .where(lit(false)).select("id", "round", "selected")

    for (r <- 1 to rounds if nAlive > 0) {
      // min alive-neighbor priority, delivered along edges
      val nbrMin = sym
        .join(alive.select(col("id").as("b_id"), col("prio").as("b_prio")),
          col("b") === col("b_id"))
        .groupBy(col("a").as("id"))
        .agg(min("b_prio").as("nbr_min"))
      val mis = alive.join(nbrMin, Seq("id"), "left")
        .where(col("nbr_min").isNull || col("prio") < col("nbr_min"))
        .select("id")
        .localCheckpoint()
      val removedNbrs = sym.join(mis.withColumnRenamed("id", "m"),
          col("a") === col("m"))
        .select(col("b").as("id")).distinct()
        .join(alive.select("id"), Seq("id"), "left_semi")
        .join(mis, Seq("id"), "left_anti")
      decided = decided
        .unionByName(mis.select(col("id"), lit(r.toLong).as("round"),
          lit(true).as("selected")))
        .unionByName(removedNbrs.select(col("id"), lit(r.toLong).as("round"),
          lit(false).as("selected")))
        .localCheckpoint()
      val (left, Seq(n)) = Fixpoint.checkpoint(
        alive.join(decided.select("id"), Seq("id"), "left_anti"), count(lit(1)))
      alive = left
      nAlive = n
    }
    decided
  }
}
