package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank as pure relational dataflow — the second iterative graph
  * operator next to [[Components]] (driver-coordinated rounds, each round
  * one edge⋈rank join + one hash aggregate; standard Pregel-style message
  * passing in DataFrame form).
  *
  * Determinism across engines: per-edge contributions are quantized to
  * integer 1e-12 units BEFORE the incoming-sum, so the aggregation is exact
  * integer arithmetic — float addition order (Spark partial/merge vs an
  * oracle's sequential scan) cannot perturb ranks. Ranks re-quantize to a
  * 1e-9 grid per round. Same playbook as the k-means centroid grid and the
  * cents sums (OPERATORS.md determinism rules).
  *
  * Scale: ranks/degrees are O(V) relations partitioned by vertex id; each
  * round shuffles O(E) messages on dst — identical cost shape to one
  * groupBy over the edge list. The edge relation is repartitioned on `src`
  * BEFORE its lineage-cutting checkpoint (localCheckpoint preserves the
  * hash partitioning), so every round's edge⋈rank join reuses one layout
  * instead of re-shuffling O(E) per round. The dangling-vertex id set is
  * static (computed once), and the dangling MASS for round k is a scalar
  * over round k−1's ranks — so it rides an `observe()` on the previous
  * round's checkpoint materialization and enters round k as a folded
  * literal. That makes each round exactly ONE job (edge⋈rank join + hash
  * aggregate + rank rewrite, fused into the round checkpoint), where the
  * tagged-union formulation ran a separate aggregate checkpoint plus a
  * broadcast exchange per round. `localCheckpoint` cuts per-round lineage
  * (HDFS checkpoint at cluster scale).
  */
object PageRank {

  /** @param edges directed edge relation with `src` and `dst` columns
    * @return (id, r) after `iters` rounds of damped PageRank, uniform init
    */
  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).localCheckpoint()
    val v = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val nDF = broadcast(v.agg(count(lit(1)).as("n")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    // dangling vertices (no out-edges) are a property of the GRAPH, not of
    // the round — tag the vertex relation once and reuse it every iteration
    val vTag = v
      .join(deg.select(col("src").as("id"), lit(true).as("dang0")), Seq("id"), "left")
      .select(col("id"), col("dang0").isNull.as("dang"))
      .localCheckpoint()

    rounds(e, deg, vTag.crossJoin(nDF), Nil, lit(1.0) / col("n"), iters) {
      (m, dm) => lit(1.0 - damping) / col("n") +
        lit(damping) * (m / lit(1e12) + (dm / lit(1e12)) / col("n"))
    }
  }

  /** The round loop [[pagerank]] and [[personalized]] share. `base` is the
    * tagged vertex relation (id, dang, the `tags` to carry, and the
    * teleport denominator), `init` the round-0 rank; `next(m, dm)` is a
    * variant's rank update from the incoming message sum `m` and the
    * previous round's dangling mass `dm`, both in integer 1e-12 units.
    */
  private def rounds(e: DataFrame, deg: DataFrame, base: DataFrame,
                     tags: Seq[String], init: Column, iters: Int)
                    (next: (Column, Column) => Column): DataFrame = {
    val carried = (Seq("id", "dang") ++ tags).map(col)
    val ranks0 = base.select(carried :+ init.as("r"): _*)
    (0 until iters).foldLeft((ranks0, Seq(danglingCensus(ranks0)))) {
        case ((ranks, Seq(dm)), _) =>
      // one fused job per round: per-edge messages quantized to integer
      // 1e-12 units (float addition order cannot perturb the sum), dangling
      // mass redistributed as the LITERAL observed on the previous round's
      // checkpoint; the new round's dangling mass is observed during THIS
      // checkpoint's materialization — no extra scan, no broadcast.
      val msgs = e
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(round(col("r") / col("outdeg") * 1e12, 0).cast("long")).as("m"))
      Fixpoint.checkpoint(base
        .join(msgs, Seq("id"), "left")
        .select(carried :+
          round(next(coalesce(col("m"), lit(0L)), lit(dm)), 9).as("r"): _*),
        danglingMass)
    }._1.select("id", "r")
  }

  /** A round's dangling mass in integer 1e-12 units. */
  private def danglingMass: Column =
    sum(when(col("dang"), round(col("r") * 1e12, 0).cast("long")))

  /** Round 0's dangling mass, in the same units every later round's
    * checkpoint observes — one O(V) job before the loop, never per round.
    */
  private def danglingCensus(ranks: DataFrame): Long =
    ranks.where(col("dang"))
      .agg(coalesce(sum(round(col("r") * 1e12, 0).cast("long")), lit(0L)))
      .head().getLong(0)

  /** DuckDB twin of [[rounds]], unrolled `iters` times from ranks
    * `r0(id, r)`: per round k the dangling census `d$k` (dm), the messages
    * `m$k` (id, m) over `e(src, dst)` and `deg(src, outdeg)`, then the
    * variant's rank CTE `rank(k)`, named `r$k`.
    */
  def unrolledSql(iters: Int)(rank: Int => String): String =
    (1 to iters).map { k =>
      val prev = s"r${k - 1}"
      s"""d$k AS (
         |  SELECT coalesce(sum(CAST(round(p.r * 1e12, 0) AS BIGINT)), 0) AS dm
         |  FROM $prev p WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = p.id)),
         |m$k AS (
         |  SELECT e.dst AS id,
         |         sum(CAST(round(p.r / deg.outdeg * 1e12, 0) AS BIGINT)) AS m
         |  FROM e JOIN $prev p ON e.src = p.id JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst),
         |${rank(k)}""".stripMargin
    }.mkString(",\n")

  /** DuckDB twin of [[pagerank]]'s rank update (damping 0.85) as `r$k`,
    * over `v(id)` and the vertex count `nn(n)`.
    */
  def uniformRankSql(k: Int): String =
    s"""r$k AS (
       |  SELECT v.id, round((CAST(1.0 AS DOUBLE) - 0.85) / nn.n
       |    + 0.85 * (coalesce(m$k.m, 0) / 1e12 + (d$k.dm / 1e12) / nn.n), 9) AS r
       |  FROM v CROSS JOIN nn CROSS JOIN d$k LEFT JOIN m$k ON m$k.id = v.id)""".stripMargin

  /** [[pagerank]] specialized to the SYMMETRIZED-PAIR graph family
    * (q81's customer↔supplier shape): the edge set is
    * `dedup(pairs) UNION ALL reverse(dedup(pairs))` — every declared edge
    * exists in both directions, duplicate-edge semantics included (a pair
    * whose reverse is also a distinct pair yields the same double edge the
    * generic unionAll form yields), so results are bit-identical to
    * `pagerank(dedup(pairs) unionAll reverse, iters)`.
    *
    * Why a specialization (guide §2.3/§2.4): the generic form pays
    * (1) a pair-dedup exchange, (2) a 2|P|-row repartition of the unioned
    * edge list, and (3) an edge-scale partial-dedup exchange for the vertex
    * census. Here each HALF keeps its own hash layout — `pa` from ONE
    * repartition on `a` (the dedup rides it: hash(a) clusters (a,b)), `pb`
    * from ONE |P|-row repartition of the deduped reverse — and everything
    * downstream rides those two layouts: per-half degree censuses and
    * vertex censuses aggregate exchange-free, the per-vertex outdeg/dang
    * tags join exchange-free, and each round's two half-message
    * aggregations land hash-partitioned on the vertex id so the rank
    * rewrite joins BOTH message halves with no exchange (m = m_ab + m_ba
    * in exact integer units — associativity of the declared long sum).
    * Exchanged records: |raw| + |P| + O(V) setup, two V-bounded message
    * partials per round — vs |raw| + 2|P| + O(E-partial) + the same
    * message partials. The 100 TB effect is the same minus one E-scale
    * exchange and one E-scale partial-dedup.
    *
    * Messages quantize per SOURCE (round(r/outdeg · 1e12) is constant over
    * a vertex's out-edges), so carrying outdeg ON the rank relation removes
    * the per-round degree join the generic form pays. Every vertex of a
    * symmetrized graph has outdeg ≥ 1, so the dangling census is
    * structurally zero — it is still computed through the identical
    * observe() fold (cost-free on the checkpoint materialization) so the
    * arithmetic stays the declared formula, term for term.
    *
    * @param pairs pair relation with columns `a`, `b` (possibly
    *              duplicated; deduped on (a, b) exactly like the callers'
    *              DISTINCT)
    */
  def pagerankUndirectedPairs(pairs: DataFrame, iters: Int,
                              damping: Double = 0.85): DataFrame = {
    val pa = pairs.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"))
      .repartition(col("a")).dropDuplicates("a", "b")
      .localCheckpoint() // both rounds + the censuses scan it
    val pb = pa.select(col("b").as("a"), col("a").as("b"))
      .repartition(col("a")).localCheckpoint()
    // per-half vertex/degree censuses ride their half's hash(a) layout;
    // the cross-half merges are V-bounded
    val va = pa.select(col("a").as("id")).distinct()
    val vb = pb.select(col("a").as("id")).distinct()
    val v = va.union(vb).distinct().localCheckpoint()
    val nDF = broadcast(v.agg(count(lit(1)).as("n")))
    val dga = pa.groupBy(col("a").as("id")).agg(count(lit(1)).as("da"))
    val dgb = pb.groupBy(col("a").as("id")).agg(count(lit(1)).as("db"))
    // v, dga, dgb are all hash(id)-partitioned: the tag joins ride
    val vTag = v
      .join(dga, Seq("id"), "left")
      .join(dgb, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("da"), lit(0L)) + coalesce(col("db"), lit(0L)))
          .as("outdeg"))
      .select(col("id"), col("outdeg"), (col("outdeg") === 0L).as("dang"))
      .localCheckpoint()

    val ranks0 = vTag.crossJoin(nDF)
      .select(col("id"), col("outdeg"), col("dang"),
        (lit(1.0) / col("n")).as("r"))
    (0 until iters).foldLeft((ranks0, Seq(danglingCensus(ranks0)))) {
        case ((ranks, Seq(dm)), _) =>
      // per-vertex message value (identical to the per-edge quantization —
      // same integer for every out-edge of the vertex), then one riding
      // join per half and one V-bounded partial aggregation per half
      val mv = ranks.where(col("outdeg") > 0L)
        .select(col("id").as("a"),
          round(col("r") / col("outdeg") * 1e12, 0).cast("long").as("mv"))
      def half(p: DataFrame) = p.join(mv, "a")
        .groupBy(col("b").as("id")).agg(sum(col("mv")).as("m"))
      val mAB = half(pa).withColumnRenamed("m", "m1")
      val mBA = half(pb).withColumnRenamed("m", "m2")
      // both message halves land hash(id)-partitioned from their groupBy —
      // joining them SEPARATELY (coalesced exact long sum) keeps the rank
      // rewrite exchange-free where a union would forget the partitioning
      Fixpoint.checkpoint(vTag.crossJoin(nDF)
        .join(mAB, Seq("id"), "left")
        .join(mBA, Seq("id"), "left")
        .select(col("id"), col("outdeg"), col("dang"),
          round(lit(1.0 - damping) / col("n")
            + lit(damping) * ((coalesce(col("m1"), lit(0L))
              + coalesce(col("m2"), lit(0L))) / lit(1e12)
              + (lit(dm) / lit(1e12)) / col("n")), 9).as("r")),
        danglingMass)
    }._1.select("id", "r")
  }

  /** Personalized PageRank (random walk with restart): the teleport mass —
    * both the (1−d) restart and the dangling redistribution — lands on the
    * SEED set instead of uniformly, so ranks measure proximity TO the seeds
    * (the recommendation-expansion / related-items primitive). Same exact
    * integer-quantized message passing and per-round `observe()` dangling
    * census as [[pagerank]]; init is uniform over seeds (non-seeds start at
    * 0), and s(v) = 1/|S| replaces 1/n in both teleport terms.
    *
    * @param seeds one `id` column; must be a subset of the graph's vertices
    */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int,
                   damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).localCheckpoint()
    val v = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val sd = seeds.select(col("id").cast("long").as("id")).distinct()
    val nsDF = broadcast(sd.agg(count(lit(1)).as("ns")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    val vTag = v
      .join(deg.select(col("src").as("id"), lit(true).as("dang0")),
        Seq("id"), "left")
      .join(sd.select(col("id"), lit(true).as("seed0")), Seq("id"), "left")
      .select(col("id"), col("dang0").isNull.as("dang"),
        coalesce(col("seed0"), lit(false)).as("seed"))
      .localCheckpoint()

    val sv = when(col("seed"), lit(1.0) / col("ns")).otherwise(lit(0.0))
    rounds(e, deg, vTag.crossJoin(nsDF), Seq("seed"), sv, iters) {
      (m, dm) => lit(1.0 - damping) * sv +
        lit(damping) * (m / lit(1e12) + dm / lit(1e12) * sv)
    }
  }
}
