package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge relation — the clustering
  * step of a near-duplicate dedup pipeline (LSH/embedding pairs → clusters →
  * keep one representative per cluster).
  *
  * Algorithm: iterative min-label propagation. Every vertex starts labeled
  * with its own id; each round every vertex takes the minimum label among
  * itself and its neighbors; fixpoint = components labeled by their minimum
  * vertex id. This is the standard dataflow CC formulation (HashToMin /
  * Pregel-style), driver-coordinated like SURVEY §7.4's iterative-LR note —
  * each round is one shuffle join + one aggregation, O(E) per round,
  * converging in O(diameter) rounds (near-dup graphs are unions of small
  * quasi-cliques, so diameter is small in practice).
  *
  * Scale notes (100 TB):
  *   - rounds run through [[Fixpoint.converge]]: each is checkpointed (no
  *     lineage replay) and its change count observed in that same job.
  *   - the symmetric edge list is repartitioned on `src` BEFORE its one-time
  *     checkpoint (localCheckpoint preserves hash partitioning), so every
  *     round's gather join reuses that layout instead of re-shuffling O(E).
  *   - for graphs with giant high-degree components the large-star/small-star
  *     variant (Kiveris et al., "Connected Components in MapReduce") bounds
  *     the per-round skew; plain propagation is the right default for dedup
  *     graphs, whose components are tiny and numerous.
  */
object Components {

  /** @return one row per vertex that appears in ≥1 edge: (id, component),
    *         component = minimum vertex id reachable from `id`.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val (sym, init) = seed(edges, srcCol, dstCol)
    Fixpoint.converge("connectedComponents", init, maxIter)(propagate(sym, _))
  }

  /** Exactly `rounds` min-label propagation rounds with NO convergence test
    * — the benchmark surface behind ScaleProbe's iterative-graph shape. The
    * convergence-tested [[connectedComponents]] stops when labels stabilize,
    * so its wall clock confounds per-round cost with round count and
    * scheduler noise; pinning the round count makes the timed work exactly
    * `rounds` × O(E) at every scale multiplier, so the observed exponent
    * isolates the per-round shuffle cost the fused aggregates claim.
    * Labels after k rounds = minimum id reachable within k hops (correct
    * CC labels only if k ≥ diameter — this is a probe, not the operator).
    */
  def propagateRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int): DataFrame = {
    val (sym, init) = seed(edges, srcCol, dstCol)
    (0 until rounds).foldLeft(init)((labels, _) => propagate(sym, labels)._1)
  }

  /** The symmetric edge list (src, dst), repartitioned on `src` BEFORE its
    * one-time checkpoint, and every vertex labeled with its own id.
    */
  private def seed(edges: DataFrame, srcCol: String,
                   dstCol: String): (DataFrame, DataFrame) = {
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges.select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .repartition(col("src")).localCheckpoint()
    (sym, sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint())
  }

  /** One min-label round: every vertex takes the minimum label among itself
    * and its neighbors. Returns the new labels and how many changed.
    */
  private def propagate(sym: DataFrame, labels: DataFrame): (DataFrame, Long) = {
    // gather: best label any neighbor can offer each vertex
    val offers = sym
      .join(labels.withColumnRenamed("id", "src_id"), col("src") === col("src_id"))
      .groupBy(col("dst").as("id"))
      .agg(min("comp").as("offer"))
    val (next, Seq(changed)) = Fixpoint.checkpoint(
      labels
        .join(offers, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("offer"), col("comp"))).as("comp"),
          (coalesce(col("offer"), col("comp")) < col("comp")).as("chg")),
      sum(when(col("chg"), 1L).otherwise(0L)))
    (next.select("id", "comp"), changed)
  }

  /** Large-star/small-star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the high-diameter /
    * giant-component escape hatch next to [[connectedComponents]]'s plain
    * propagation. Same contract: (id, comp) with comp = minimum reachable
    * vertex id, one row per vertex appearing in ≥1 edge.
    *
    * Why it exists: min-label propagation needs O(diameter) rounds — fine
    * for dedup graphs (unions of small quasi-cliques), pathological for
    * long chains or web-scale giants. LS/SS alternates two neighborhood
    * rewrites that provably converge in O(log n) rounds and bound per-round
    * skew: each round is a groupBy-min plus a re-join, the same O(E) shuffle
    * shape. Each round's edge set is deduplicated, so intermediate growth is
    * capped at the star-forest size.
    */
  def largeStarSmallStar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 40): DataFrame = {
    val init = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint()
    // the vertex universe is fixed at the start: self-loop-only vertices
    // would otherwise vanish when self-edges drop out of the star rewrites
    val verts = init.select(col("a").as("id"))
      .union(init.select(col("b").as("id"))).distinct().localCheckpoint()

    // large-star: every strictly-larger neighbor of u links to
    // m(u) = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val m = sym.groupBy("a").agg(least(min(col("b")), col("a")).as("m"))
      sym.join(m, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }

    // small-star: orient (hi ← lo); every ≤-neighbor of h (and h itself)
    // links to m(h) = min of the lo-neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val hl = e.select(greatest(col("a"), col("b")).as("h"),
        least(col("a"), col("b")).as("l"))
      val m = hl.groupBy("h").agg(min(col("l")).as("m"))
      hl.join(m, "h")
        .select(col("l").as("a"), col("m").as("b"))
        .union(m.select(col("h").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
    }

    // Each round's edge set is distinct and canonically oriented (a > b),
    // so (count, XOR xxhash64(a,b)) is an order-insensitive set signature,
    // observed on the round's checkpoint job (bit_xor, not sum: commutative
    // AND overflow-free under ANSI mode). Signature equality triggers ONE
    // confirming anti-join (|next| = |e| plus next∖e = ∅ ⇒ set equality) —
    // so the exact check runs once at convergence instead of two O(E)
    // shuffle-scan jobs every round, which on a giant graph was the
    // dominant non-rewrite cost. Progress is the edge count of a round
    // whose edge set still changed.
    def signed(df: DataFrame) =
      Fixpoint.checkpoint(df, count(lit(1)), expr("bit_xor(xxhash64(a, b))"))
    val (e, _) = Fixpoint.converge("largeStarSmallStar", signed(
      init.where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct()), maxIter) { case (e, sig) =>
      val (next, nSig) = signed(smallStar(largeStar(e).distinct()).distinct())
      val same = nSig == sig && next.exceptAll(e).isEmpty
      ((next, nSig), if (same) 0L else nSig.head)
    }
    // fixpoint edges are (v, root); roots label themselves, and vertices
    // whose edges were all self-loops fall back to their own id
    val starLabels = e.select(col("a").as("id"), col("b").as("comp"))
      .union(e.select(col("b").as("id"), col("b").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
    verts.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
