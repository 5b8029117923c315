package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guards for the round-16 optimization restructures: each one pins the
  * optimized operator's results to the generic form it replaced, on inputs
  * that exercise the equivalence's edge cases (duplicate pairs, pairs
  * present in both orientations, sliced signature relations).
  * (RoundNSpec numbers are a sequential spec series, not build-round
  * numbers.)
  */
class Round17Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Seeded pair relation with duplicates AND cross-orientation pairs —
    * the two cases where pagerankUndirectedPairs' internal dedup must
    * reproduce the generic form's unionAll-of-distinct-pairs semantics
    * exactly (a pair whose reverse is also a distinct pair yields a
    * DOUBLE edge in both forms).
    */
  private def seededPairs(seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val base = (1 to 120).map(_ => (rnd.nextInt(25).toLong, 100L + rnd.nextInt(20)))
    val dups = base.take(30) // exact duplicates — deduped in both forms
    val rev = base.take(15).map { case (a, b) => (b, a) } // both orientations
    (base ++ dups ++ rev).toDF("a", "b").where(col("a") =!= col("b"))
  }

  test("pagerankUndirectedPairs is bit-identical to the generic unionAll form") {
    import graft.operators.PageRank
    for (seed <- Seq(7L, 41L)) {
      val pairs = seededPairs(seed)
      val dedup = pairs.distinct()
      val e = dedup.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(dedup.select(col("b").as("src"), col("a").as("dst")))
      val generic = PageRank.pagerank(e, iters = 2)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      val special = PageRank.pagerankUndirectedPairs(pairs, iters = 2)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(special.toSeq == generic.toSeq, s"seed $seed")
    }
  }

  test("pagerankUndirectedPairs: empty input degrades to empty, not error") {
    import spark.implicits._
    import graft.operators.PageRank
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(PageRank.pagerankUndirectedPairs(empty, iters = 2).count() == 0L)
  }

  test("pagerankUndirectedPairs half layout: dedup and degree census ride one repartition") {
    // the exchange-sharing contract the specialization is built on
    // (guide §2.4): hash(a) clusters (a, b), so BOTH the pair dedup and
    // the per-half degree census plan with NO exchange beyond the single
    // explicit repartition(a)
    val pairs = seededPairs(7L)
    val pa = pairs.repartition(col("a")).dropDuplicates("a", "b")
    val dedupPlan = pa.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(dedupPlan).size == 1,
      s"pair dedup must ride the single repartition(a) exchange\n$dedupPlan")
    val degPlan = pa.groupBy(col("a")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(degPlan).size == 1,
      s"the half degree census must ride the same exchange\n$degPlan")
  }

  test("scorePacked equals scoreKeyed modulo key packing") {
    import spark.implicits._
    import graft.operators.{LinearSigmoidScorer, Scorer}
    val rnd = new scala.util.Random(13L)
    val rows = (1 to 500).map { i =>
      (i.toLong, 1 + rnd.nextInt(7), Array(rnd.nextDouble(), rnd.nextDouble()))
    }
    val m = LinearSigmoidScorer(-2.0, Array(4.0, 1.0))
    val keyed = Scorer.scoreKeyed(rows.toDS(), m)
      .select((col("key1") * 8 + col("key2")).as("key"), col("score"))
      .orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val packed = Scorer.scorePacked(
        rows.map { case (k1, k2, f) => (k1 * 8 + k2, f) }.toDS(), m)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(packed.toSeq == keyed.toSeq)
  }

  test("build/upsert with a sliced precomputed signature relation equals the per-step recompute") {
    import graft.operators.NswGraph
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val (dim, bands, rbits, seed, cap) = (64, 6, 4, 17L, 8)
    val sigAll = NswGraph.signatures(emb, "vec_id", "embedding", dim, bands,
      rbits, seed).persist()
    try {
      val base = emb.where(col("vec_id") % 3 =!= 0)
      val g0 = NswGraph.build(base, "vec_id", "embedding", dim, bands,
        rbits, seed, cap, 8).localCheckpoint()
      val nw = emb.where(col("vec_id") % 3 === 0)
      val upFresh = NswGraph.upsert(base, nw, g0, "vec_id", "embedding",
          dim, bands, rbits, seed, cap, 8, 4)
        .orderBy("src", "dst").collect().toSeq
      val upSliced = NswGraph.upsert(base, nw, g0, "vec_id", "embedding",
          dim, bands, rbits, seed, cap, 8, 4, allSigs = Some(sigAll))
        .orderBy("src", "dst").collect().toSeq
      assert(upSliced == upFresh)
    } finally { sigAll.unpersist(): Unit }
  }
}
