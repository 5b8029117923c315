package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsofJoin, Components}

/** Invariants for the second-pass operators: connected components and the
  * as-of join, over tiny literal graphs/frames with hand-computed answers.
  */
class AdvancedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("components: two clusters labeled by their minimum vertex") {
    val got = ccMap(Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("components: long chain needs multiple propagation rounds") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    val got = ccMap(chain)
    assert(got.keySet == (1L to 12L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  test("components: star with hub labeled by a leaf minimum; direction-free") {
    // hub 10 listed as src and as dst; min label 1 comes from a leaf
    val got = ccMap(Seq((10L, 4L), (1L, 10L), (10L, 7L)))
    assert(got == Map(1L -> 1L, 4L -> 1L, 7L -> 1L, 10L -> 1L))
  }

  test("components: labels are a fixpoint (one more round changes nothing)") {
    val edges = Seq((2L, 9L), (9L, 4L), (7L, 8L), (8L, 2L), (20L, 21L))
    val labels = ccMap(edges)
    // every edge's endpoints share a component
    edges.foreach { case (a, b) => assert(labels(a) == labels(b)) }
    // each component labeled by its own minimum member
    labels.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp)
    }
  }

  test("asof: matches at-or-before time within key, null when none precedes") {
    val purchases = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 200L, 5L))
      .toDF("id", "k", "t")
    val views = Seq((100L, 8L), (100L, 20L), (100L, 30L), (200L, 9L))
      .toDF("k", "vt")
    val got = AsofJoin.asof(purchases, views, Seq("k"),
        col("t"), col("vt"), "asof_t")
      .select("id", "asof_t").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got == Map(1L -> Some(8L), 2L -> Some(20L), 3L -> None))
  }

  test("asof: equal timestamps match (at-or-before, right sorts first)") {
    val l = Seq((1L, 7L, 50L)).toDF("id", "k", "t")
    val r = Seq((7L, 50L)).toDF("k", "vt")
    val got = AsofJoin.asof(l, r, Seq("k"), col("t"), col("vt"), "asof_t")
      .select("asof_t").collect()
    assert(got.head.getLong(0) == 50L)
  }

  test("observed metrics materialize in-flight with the action, no extra pass") {
    import graft.operators.Metrics
    val src = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "txt")
    val (df, collector) = Metrics.observed(src, "stage_metrics",
      count(lit(1)).as("rows"),
      count(when(col("txt").isNull, 1)).as("null_txt"))
    df.write.format("noop").mode("overwrite").save()
    // listener delivery is async w.r.t. the action — bounded wait
    val deadline = System.currentTimeMillis() + 10000
    var m = collector.get("stage_metrics")
    while (m.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); m = collector.get("stage_metrics")
    }
    assert(m.isDefined)
    assert(m.get.getLong(0) == 3L && m.get.getLong(1) == 1L)
    collector.close() // unregisters the listener — no per-call leak
  }

  test("empty inputs: components, asof, pagerank degrade to empty/null, not errors") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(noEdges, "a", "b").count() == 0)
    assert(graft.operators.PageRank.pagerank(
      noEdges.toDF("src", "dst"), iters = 2).count() == 0)
    val left = Seq((1L, 5L, 10L)).toDF("id", "k", "t")
    val noRight = Seq.empty[(Long, Long)].toDF("k", "vt")
    val out = AsofJoin.asof(left, noRight, Seq("k"), col("t"), col("vt"), "asof_t")
      .collect()
    assert(out.length == 1 && out.head.isNullAt(3))
  }

  test("pagerank: ranks sum to ~1, symmetry respected, hub ranks highest") {
    import graft.operators.PageRank
    // star: hub 1 ↔ leaves 2,3,4 (symmetric edges)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val e = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val ranks = PageRank.pagerank(e, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    // leaves are symmetric → identical ranks; hub dominates
    assert(ranks(2L) == ranks(3L) && ranks(3L) == ranks(4L))
    assert(ranks(1L) > ranks(2L))
  }

  test("pagerank: dangling-vertex mass is redistributed, total stays ~1") {
    import graft.operators.PageRank
    // directed chain with a sink: 1→2→3; vertex 3 has no out-edges
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val ranks = PageRank.pagerank(e, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.keySet == Set(1L, 2L, 3L))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, ranks)
    // the sink accumulates the most mass, the source the least
    assert(ranks(3L) > ranks(2L) && ranks(2L) > ranks(1L))
  }

  test("kmeans separates two obvious blobs and partitions all points") {
    import graft.operators.KMeans
    // blob A near (0,0): ids 0,2,3,4 ; blob B near (10,10): ids 1,5,6,7
    // seeds are ids 0 (A) and 1 (B) → cluster 0 = A, cluster 1 = B
    val pts = Seq(
      (0L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.2f)),
      (3L, Array(-0.1f, 0.1f)), (4L, Array(0.2f, -0.1f)),
      (1L, Array(10.0f, 10.1f)), (5L, Array(9.9f, 10.0f)),
      (6L, Array(10.1f, 9.8f)), (7L, Array(10.0f, 10.2f)))
      .toDF("vec_id", "embedding")
    val (assigned, centroids) = KMeans.fit(pts, "vec_id", "embedding",
      dim = 2, k = 2, iters = 2)
    val byCluster = assigned.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCluster.keySet == (0L to 7L).toSet)
    assert(Set(0L, 2L, 3L, 4L).map(byCluster) == Set(0L))
    assert(Set(1L, 5L, 6L, 7L).map(byCluster) == Set(1L))
    // centroids land at the blob means
    val cents = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(cents(0L).head - 0.05) < 1e-6)
    assert(math.abs(cents(1L).head - 10.0) < 1e-6)
  }

  test("components matches driver-side union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val nV = 2 + rnd.nextInt(30)
      val nE = 1 + rnd.nextInt(40)
      val edges = Seq.fill(nE)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // reference: textbook union-find over the same edges
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // union-find roots are not guaranteed minimal per component; group
        // by root and take the min member as the expected label
        val byRoot = verts.groupBy(find)
        val expected = byRoot.values.flatMap { vs =>
          val m = vs.min; vs.map(_ -> m)
        }.toMap
        val got = ccMap(edges)
        assert(got == expected, s"edges=$edges")
      }
    }
  }

  test("large-star/small-star CC equals plain propagation on seeded graphs") {
    val rnd = new scala.util.Random(7)
    // include a long chain — the exact shape plain propagation is slow on
    // and LS/SS exists for — plus random graphs and a self-loop
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val cases = chain +: Seq.fill(4) {
      val nV = 2 + rnd.nextInt(30)
      Seq.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
    } :+ Seq((5L, 5L), (1L, 2L))
    cases.foreach { edges =>
      val df = edges.toDF("a", "b")
      val plain = Components.connectedComponents(df, "a", "b", maxIter = 60)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lsss = Components.largeStarSmallStar(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lsss == plain, s"edges=$edges")
    }
  }

  test("large-star/small-star: empty input degrades to empty, not error") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.largeStarSmallStar(noEdges, "a", "b").count() == 0)
  }

  test("asof matches per-row brute force on a seeded random event set") {
    val rnd = new scala.util.Random(7)
    val lefts = (1L to 60L).map(i => (i, rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
    val rights = (1 to 80).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong))
    val got = AsofJoin.asof(lefts.toDF("id", "k", "t"), rights.toDF("k", "vt"),
        Seq("k"), col("t"), col("vt"), "asof_t")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    lefts.foreach { case (id, k, t) =>
      val expected = rights.filter(r => r._1 == k && r._2 <= t)
        .map(_._2).sorted.lastOption
      assert(got(id) == expected, s"id=$id k=$k t=$t")
    }
  }

  test("kmeans seeds work with sparse, non-zero-based ids") {
    import graft.operators.KMeans
    // ids start at 500 with gaps — seeds are the 2 smallest ids, clusters
    // are their ranks 0/1, regardless of id values
    val pts = Seq(
      (500L, Array(0.0f, 0.0f)), (907L, Array(0.1f, -0.1f)),
      (603L, Array(10.0f, 10.0f)), (811L, Array(9.9f, 10.1f)))
      .toDF("vec_id", "embedding")
    val (assigned, centroids) = KMeans.fit(pts, "vec_id", "embedding",
      dim = 2, k = 2, iters = 1)
    val m = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set(500L, 603L, 811L, 907L))
    assert(m(500L) == 0L && m(907L) == 0L) // blob at origin → seed-rank 0 (id 500)
    assert(m(603L) == 1L && m(811L) == 1L) // far blob → seed-rank 1 (id 603)
    assert(centroids.count() == 2)
  }

  test("vec_dot expression is bit-equal to the HOF fold it replaces") {
    import graft.functions.Tensors
    val df = Seq(
      (1L, Array(1.5f, -2.25f, 0.125f), Array(4.0f, 0.5f, -8.0f)),
      (2L, Array(0.1f, 0.2f, 0.3f), Array(-0.3f, 0.2f, -0.1f)),
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      Tensors.dot(col("a"), col("b")).as("fast"),
      Tensors.dotHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r)
    }
    // hand-computed: 1.5*4 + (-2.25)*0.5 + 0.125*(-8) = 6 - 1.125 - 1 = 3.875
    assert(out.find(_.getLong(0) == 1L).get.getDouble(1) == 3.875)
  }

  test("rot90Flat is bit-equal to the nested HOF rotation for every k") {
    import graft.functions.Tensors
    val n = 8
    val df = Seq.tabulate(5)(i =>
      (i.toLong, Array.tabulate(n * n)(j => (i * 64 + j) / 16.0f)))
      .toDF("id", "flat")
    (0 to 4).foreach { k =>
      val grid = Tensors.reshape(col("flat"), n, n)
      val out = df.select(col("id"),
        Tensors.rot90Flat(col("flat"), n, k).as("fast"),
        flatten(Rot90Reference.rot90(grid, n, k)).as("hof")).collect()
      out.foreach { r =>
        assert(r.getSeq[Float](1) == r.getSeq[Float](2), s"k=$k id=${r.getLong(0)}")
      }
    }
    // rot90Flat composed 4× is the identity
    val id4 = df.select(col("flat"),
      Tensors.rot90Flat(Tensors.rot90Flat(Tensors.rot90Flat(
        Tensors.rot90Flat(col("flat"), n, 1), n, 1), n, 1), n, 1).as("r4"))
      .collect()
    id4.foreach(r => assert(r.getSeq[Float](0) == r.getSeq[Float](1)))
  }

  test("asof: left payload columns survive untouched") {
    val l = Seq((1L, 7L, 50L, "payload")).toDF("id", "k", "t", "note")
    val r = Seq((7L, 10L)).toDF("k", "vt")
    val out = AsofJoin.asof(l, r, Seq("k"), col("t"), col("vt"), "asof_t")
    assert(out.columns.toSeq == Seq("id", "k", "t", "note", "asof_t"))
    val row = out.collect().head
    assert(row.getString(3) == "payload" && row.getLong(4) == 10L)
  }
}
