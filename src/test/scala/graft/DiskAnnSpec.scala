package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DiskAnn, NswGraph}

/** The disk-resident ANN rung: the index layout must make frontier probes
  * reach the parquet scan as pushed filters, search IO must be bounded by
  * the visited neighborhoods (never the corpus), and the walk must equal
  * the in-memory formulation (q293's oracle pins that end-to-end; here the
  * IO mechanics are pinned).
  */
class DiskAnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Dim = 64

  private def withIndex[T](body: String => T): T = {
    Scratch.run(spark, "graft_diskann_t_") { root =>
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
      val graph = NswGraph.buildRefined(emb, "vec_id", "embedding", Dim,
        bands = 16, rbits = 4, seed = 11L, cap = 64,
        kInternal = 16, rounds = 2, deg = 8)
      DiskAnn.writeIndex(graph, emb, "vec_id", "embedding", root.toString)
      body(root.toString)
    }
  }

  test("frontier probes reach the edge scan as pushed In filters") {
    withIndex { dir =>
      val probe = spark.read.parquet(s"$dir/edges")
        .where(col("src").isin(0L, 5L, 9L))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        (plan.contains("In(src") || plan.contains("In(`src`")), plan)
      // and the filtered read returns only the probed adjacency lists
      val rows = probe.collect()
      assert(rows.nonEmpty && rows.forall(r => Set(0L, 5L, 9L)(r.getLong(0))))
    }
  }

  test("search IO is bounded by visited neighborhoods, not the corpus") {
    withIndex { dir =>
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
      val n = emb.count()
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (found, io) = DiskAnn.search(spark, dir, queries, entry = 0L,
        hops = 6, beam = 16)
      assert(found.nonEmpty)
      // per hop ≤ queries × beam new probes, each ≤ deg edges; vectors ≤
      // probes × (deg + 1). The corpus is ~1.2k vectors at sf0.001 — the
      // walk must touch a strict subset even at this tiny scale
      val probeBound = 5L * 16 * 6
      assert(io.edgeRows <= probeBound * 8,
        s"edge rows ${io.edgeRows} exceed the neighborhood bound")
      assert(io.vecRows < n,
        s"vector rows ${io.vecRows} not below corpus size $n")
      // caching holds scan count to ~2 per hop (edges + vectors)
      assert(io.scans <= 2 * 6 + 1, s"too many scans: ${io.scans}")
    }
  }

  test("distributed serving walk equals the driver-side walk exactly") {
    withIndex { dir =>
      import graft.functions.Tensors
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (driver, _) = DiskAnn.search(spark, dir, queries, 0L, 6, 16)
      val qdf = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          Tensors.norm(col("embedding")).as("qn"))
      val (frontier, io) = DiskAnn.searchDistributed(spark, dir, qdf, 0L, 6, 16)
      val dist = frontier.collect().map(r => (r.getLong(0), r.getLong(1)))
      // bit-identical frontiers: the executor-side expression chain and the
      // driver-side replica must agree on every (query, neighbor) pair
      assert(dist.sorted.toSeq == driver.sorted,
        s"distributed ${dist.length} vs driver ${driver.size}")
      // and the distributed path keeps the same neighborhood IO bound
      assert(io.vecRows <= 5L * 16 * 6 * 9,
        s"vector rows ${io.vecRows} exceed the neighborhood bound")
    }
  }

  test("search is deterministic across runs") {
    withIndex { dir =>
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
      val queries = emb.where(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (a, _) = DiskAnn.search(spark, dir, queries, 0L, 6, 16)
      val (b, _) = DiskAnn.search(spark, dir, queries, 0L, 6, 16)
      assert(a.sorted == b.sorted)
    }
  }

  test("fleet walk (task-local parquet reads) equals the driver-side walk") {
    withIndex { dir =>
      import graft.functions.Tensors
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (driver, dio) = DiskAnn.search(spark, dir, queries, 0L, 6, 16)
      val qdf = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          Tensors.norm(col("embedding")).as("qn"))
      val ea = spark.sparkContext.longAccumulator("spec_fleet_e")
      val va = spark.sparkContext.longAccumulator("spec_fleet_v")
      val fleet = DiskAnn.searchFleet(spark, dir, qdf, 0L, 6, 16,
        slices = 3, ea, va)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // bit-identical results: the task-local parquet walk and the
      // driver-side replica agree on every (query, neighbor) pair
      assert(fleet.sorted.toSeq == driver.sorted,
        s"fleet ${fleet.length} vs driver ${driver.size}")
      // IO stays neighborhood-bounded; slicing can re-read a node's
      // vector once per SLICE that visits it, never per corpus row — the
      // slice count (3) is the honest multiplier on the driver walk's
      // dedup'd reads
      assert(va.value <= dio.vecRows * 3,
        s"fleet vector rows ${va.value} vs driver ${dio.vecRows} x 3 slices")
    }
  }
}
