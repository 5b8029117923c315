package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Tensors
import graft.operators.NswGraph

/** The scalable k-NN-graph build (q266/q267's): plan shape (equi-joins
  * only — the whole point vs the all-pairs build), degree/loop contracts,
  * determinism, the cap's declared semantics, and NN-descent actually
  * improving edge recall on the fixture.
  */
class NswGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 64
  private def emb = Tables.embeddings(spark, TestSpark.sfDir)

  test("codegen'd band signatures are bit-equal to the HOF formulation") {
    val fast = NswGraph.signatures(emb, "vec_id", "embedding", Dim,
      bands = 16, rbits = 4, seed = 11L)
    val hof = NswGraph.signaturesHof(emb, "vec_id", "embedding", Dim,
      bands = 16, rbits = 4, seed = 11L)
    assert(fast.exceptAll(hof).count() == 0)
    assert(hof.exceptAll(fast).count() == 0)
    assert(fast.count() == emb.count() * 16)
  }

  test("build plan is cartesian-free: equi-join candidates only") {
    val g = NswGraph.build(emb, "vec_id", "embedding", Dim,
      bands = 4, rbits = 4, seed = 11L, cap = 64, deg = 8)
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("degree bound, no self-loops, endpoints are corpus ids") {
    val g = NswGraph.build(emb, "vec_id", "embedding", Dim,
      bands = 8, rbits = 4, seed = 11L, cap = 64, deg = 8).persist()
    assert(g.where(col("src") === col("dst")).count() == 0)
    val maxDeg = g.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).collect()(0).getLong(0)
    assert(maxDeg <= 8)
    val n = emb.count()
    assert(g.where(col("src") >= n || col("dst") >= n).count() == 0)
    g.unpersist(): Unit
  }

  test("deterministic: two independent builds produce identical edges") {
    def once() = NswGraph.buildRefined(emb, "vec_id", "embedding", Dim,
      bands = 8, rbits = 4, seed = 11L, cap = 64,
      kInternal = 12, rounds = 1, deg = 6)
    assert(once().exceptAll(once()).count() == 0)
    assert(once().count() > 0)
  }

  test("the cap bounds candidate work: tighter cap, far fewer edges") {
    // the split is a HASH split (⌈size/cap⌉ sub-cells, co-cell by salted
    // hash) — it bounds EXPECTED pair work at ~cap²/2 per sub-cell rather
    // than partitioning exactly; cap=1 must cut the surviving edge set to
    // a small fraction of the uncapped one
    def edges(cap: Int) = NswGraph.build(emb, "vec_id", "embedding", Dim,
      bands = 4, rbits = 4, seed = 11L, cap = cap, deg = 8).count()
    val (tight, loose) = (edges(1), edges(1000000))
    val n = emb.count()
    info(s"edges: cap=1 $tight, uncapped $loose (n=$n)")
    // cap=1 leaves ~1 expected co-cell mate per band → ≤ ~2·bands
    // undirected edge slots per node; uncapped saturates deg=8
    assert(tight < loose)
    assert(tight <= n * 2 * 4, s"cap=1 edge count $tight exceeds the expected-work bound")
    assert(loose == n * 8, "uncapped build should saturate deg on this fixture")
  }

  test("NN-descent rounds strictly improve exact-edge recall on the fixture") {
    val v = emb.select(col("vec_id"), col("embedding"),
      Tensors.norm(col("embedding")).as("nrm"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val exact = v.as("a").join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(Tensors.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 8)
      .select("src", "dst").persist()
    def overlap(g: org.apache.spark.sql.DataFrame): Long =
      exact.join(g, Seq("src", "dst")).count()
    val seed = NswGraph.build(emb, "vec_id", "embedding", Dim,
      bands = 16, rbits = 4, seed = 11L, cap = 64, deg = 8)
    val refined = NswGraph.buildRefined(emb, "vec_id", "embedding", Dim,
      bands = 16, rbits = 4, seed = 11L, cap = 64,
      kInternal = 16, rounds = 2, deg = 8)
    val (so, ro, total) = (overlap(seed), overlap(refined), exact.count())
    info(s"edge recall: seed $so/$total, refined $ro/$total")
    assert(ro > so)
    assert(ro * 10 >= total * 9, s"refined edge recall below 90%: $ro/$total")
    exact.unpersist(): Unit
  }

  test("upsert: new nodes linked, unaffected edges untouched, degree bound") {
    val isNew = col("vec_id") % 8 === 0
    val baseEmb = emb.where(!isNew)
    val newEmb = emb.where(isNew)
    val baseGraph = NswGraph.buildRefined(baseEmb, "vec_id", "embedding",
      Dim, bands = 16, rbits = 4, seed = 11L, cap = 64,
      kInternal = 16, rounds = 2, deg = 8).localCheckpoint()
    val g = NswGraph.upsert(baseEmb, newEmb, baseGraph, "vec_id",
      "embedding", Dim, bands = 16, rbits = 4, seed = 11L, cap = 64,
      kInternal = 16, deg = 8).persist()
    // degree bound + no self-loops hold after maintenance
    assert(g.where(col("src") === col("dst")).count() == 0)
    val maxDeg = g.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(maxDeg <= 8)
    // every new node with ≥1 bucket candidate has out-edges
    val nNewLinked = g.where(col("src") % 8 === 0)
      .select("src").distinct().count()
    val nNew = newEmb.count()
    assert(nNewLinked * 10 >= nNew * 9,
      s"only $nNewLinked of $nNew new nodes linked")
    // new nodes are reachable: some base node points at a new node
    assert(g.where(col("src") % 8 =!= 0 && col("dst") % 8 === 0).count() > 0)
    // unaffected base nodes keep their exact old edge lists
    val affected = g.where(col("src") % 8 =!= 0)
      .join(baseGraph, Seq("src", "dst"), "left_anti")
      .select("src").distinct()
    val untouched = baseGraph.join(affected, Seq("src"), "left_anti")
    assert(untouched.join(g, Seq("src", "dst"), "left_anti").count() == 0)
    g.unpersist(): Unit
  }

  test("remove: deleted ids vanish, lost degree repairs via the detour") {
    val delPred = col("vec_id") >= 100 && col("vec_id") % 10 === 3
    val full = NswGraph.buildRefined(emb, "vec_id", "embedding",
      Dim, bands = 16, rbits = 4, seed = 11L, cap = 64,
      kInternal = 16, rounds = 2, deg = 8).localCheckpoint()
    val del = emb.where(delPred).select("vec_id")
    val g = NswGraph.remove(emb, full, del, "vec_id", "embedding", deg = 8)
      .persist()
    // no deleted id on either end
    assert(g.join(del.withColumnRenamed("vec_id", "src"), Seq("src")).count() == 0)
    assert(g.join(del.withColumnRenamed("vec_id", "dst"), Seq("dst")).count() == 0)
    val maxDeg = g.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(maxDeg <= 8)
    // nodes that lost an edge to a deleted neighbor keep degree 8 when the
    // detour supplies enough candidates: mean degree of affected nodes
    // must stay within one edge of the bound
    val aff = full.join(del.withColumnRenamed("vec_id", "dst"), Seq("dst"),
      "left_semi").select("src").distinct()
      .join(del.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
    val affDeg = g.join(aff, Seq("src"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("d"))
      .agg(avg("d")).head().getDouble(0)
    assert(affDeg >= 7.0, s"affected nodes under-repaired: mean degree $affDeg")
    // determinism: a second maintenance run is identical
    val g2 = NswGraph.remove(emb, full, del, "vec_id", "embedding", deg = 8)
    assert(g.exceptAll(g2).count() == 0)
    g.unpersist(): Unit
  }

  test("remove pins only the deleted-id broadcasts; the affected set is left to the planner") {
    // the affected set holds every node that lost an edge — no size bound —
    // so it must not carry a broadcast hint. With auto-broadcast off, every
    // BroadcastExchange left in the plan is a hint: each must be a pin of
    // the deleted ids (a filtered scan), never the aggregated affected set.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val full = NswGraph.build(emb, "vec_id", "embedding", Dim,
      bands = 4, rbits = 4, seed = 11L, cap = 64, deg = 8).localCheckpoint()
    val del = emb.where(col("vec_id") % 10 === 3).select("vec_id")
    Scratch.run(spark, "graft_nsw_remove_plan_",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { _ =>
      val plan = NswGraph.remove(emb, full, del, "vec_id", "embedding",
          deg = 8).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val pins = plan.collect { case b: BroadcastExchangeExec => b }
      assert(pins.nonEmpty, plan.toString)
      pins.foreach { b =>
        assert(!b.child.exists(n => n.isInstanceOf[BaseJoinExec] ||
          n.isInstanceOf[BaseAggregateExec]),
          s"broadcast of something other than the deleted ids:\n$b")
      }
    }
  }

  test("r15 exchange-riding contract: a top-k window rides the last join's hash layout") {
    // The refine/upsert/localRefine/remove scoring blocks join the
    // window-key side LAST so the per-src top-k window needs no exchange
    // of the scored relation (OPTIMIZATION_r15.md §2.2). Pin the planner
    // behavior the layout relies on: with sort-merge joins dst-then-src,
    // no ShuffleExchange sits between the Window and the src-side join.
    val cand = spark.range(200)
      .select((col("id") % 20).as("src"), (col("id") % 13).as("dst"))
      .distinct()
    val v = spark.range(20).select(col("id"), (col("id") * 2.0).as("x"))
    val scored = cand
      .join(v.select(col("id").as("dst"), col("x").as("xd")).hint("merge"),
        "dst")
      .join(v.select(col("id").as("src"), col("x").as("xs")).hint("merge"),
        "src")
      .select(col("src"), col("dst"), (col("xs") * col("xd")).as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val plan = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2).queryExecution.sparkPlan
    val win = plan.collectFirst {
      case we: org.apache.spark.sql.execution.window.WindowExec => we
    }
    assert(win.isDefined, plan.toString)
    // walk down from the window to the first join: only sorts/projects may
    // sit between — an exchange there means the ride broke
    var node: org.apache.spark.sql.execution.SparkPlan = win.get.child
    var steps = 0
    while (steps < 10 &&
      !node.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) {
      assert(!node.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeExec],
        s"window does not ride the join:\n$plan")
      assert(node.children.size == 1, node.toString)
      node = node.children.head
      steps += 1
    }
    assert(node.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec], plan.toString)
  }

  test("r15 repair ride: a union-of-pairs below dst-then-src joins still rides") {
    // upsert's repruned restructure: the repair PAIRS (affected base edges
    // ∪ reverse candidates) union FIRST — below the scoring joins — and
    // the per-src re-prune window rides the src-side join's hash layout.
    // A union's own output partitioning is unknown, so the OLD shape
    // (score each side, union, window) always re-exchanged; this pins that
    // pushing the union below the joins restores the ride.
    val pairsA = spark.range(120)
      .select((col("id") % 12).as("src"), (col("id") % 7).as("dst"))
      .distinct()
    val pairsB = spark.range(60)
      .select((col("id") % 9).as("src"), (col("id") % 11).as("dst"))
      .distinct()
    val v = spark.range(20).select(col("id"), (col("id") * 2.0).as("x"))
    val scored = pairsA.unionByName(pairsB)
      .join(v.select(col("id").as("dst"), col("x").as("xd")).hint("merge"),
        "dst")
      .join(v.select(col("id").as("src"), col("x").as("xs")).hint("merge"),
        "src")
      .select(col("src"), col("dst"), (col("xs") * col("xd")).as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val plan = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2).queryExecution.sparkPlan
    val win = plan.collectFirst {
      case we: org.apache.spark.sql.execution.window.WindowExec => we
    }
    assert(win.isDefined, plan.toString)
    var node: org.apache.spark.sql.execution.SparkPlan = win.get.child
    var steps = 0
    while (steps < 10 &&
      !node.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) {
      assert(!node.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeExec],
        s"window does not ride the join:\n$plan")
      assert(node.children.size == 1, node.toString)
      node = node.children.head
      steps += 1
    }
    assert(node.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec], plan.toString)
  }
}
