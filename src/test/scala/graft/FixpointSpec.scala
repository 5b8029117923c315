package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.{Components, Fixpoint, Mis, Scc}

/** The fixpoint round loop and the operators that run on it: metrics observed
  * on a checkpoint equal a recount, a fixpoint cut short by `maxIter`
  * fails with its per-round trace, empty input comes back empty, and each
  * operator's own contract (SCC labels, Luby MIS, stable matching).
  */
class FixpointSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)
  // an Observation whose metrics never arrive blocks forever: bound it
  implicit val signaler: Signaler = ThreadSignaler

  private def pairs(es: (Long, Long)*): DataFrame = {
    import spark.implicits._
    es.toDF("a", "b")
  }
  /** 1–2–3–4–5–6 */
  private def path6 = pairs((1L to 5L).map(v => (v, v + 1)): _*)

  test("checkpoint's observed metrics equal a direct recount") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, i % 7)).toDF("a", "b")
      .where(col("b") =!= 3L)
    val (out, Seq(n, sb, h, none)) = Fixpoint.checkpoint(df,
      count(lit(1)), sum(col("b")), expr("bit_xor(xxhash64(a, b))"),
      sum(when(col("b") > 100L, 1L)))
    val direct = df.agg(count(lit(1)), sum(col("b")),
      expr("bit_xor(xxhash64(a, b))")).head()
    assert(n == direct.getLong(0))
    assert(sb == direct.getLong(1))
    assert(h == direct.getLong(2))
    assert(none == 0L, "a null aggregate reads as 0")
    assert(out.count() == n)
    assert(out.orderBy("a").collect().toSeq == df.orderBy("a").collect().toSeq)
  }

  test("converge stops at the first round without progress, even the last") {
    // a 6-path settles after 5 changing rounds; round 6 confirms
    val cc = Components.connectedComponents(path6, "a", "b", maxIter = 6)
    assert(cc.collect().forall(_.getLong(1) == 1L))
    var calls = 0
    val out = Fixpoint.converge("countdown", 3L, maxIter = 4) { k =>
      calls += 1
      (k - 1, k - 1)
    }
    assert(out == 0L && calls == 3)
  }

  test("connectedComponents past maxIter throws with the per-round change counts") {
    val e = intercept[IllegalStateException](
      Components.connectedComponents(path6, "a", "b", maxIter = 2))
    assert(e.getMessage.contains("connectedComponents did not converge in 2 rounds"))
    assert(e.getMessage.contains("progress per round: 5, 4"), e.getMessage)
  }

  test("largeStarSmallStar past maxIter throws with the per-round trace") {
    val e = intercept[IllegalStateException](
      Components.largeStarSmallStar(path6, "a", "b", maxIter = 1))
    assert(e.getMessage.contains("largeStarSmallStar did not converge in 1 rounds"))
    assert("progress per round: [1-9][0-9]*\\)".r.findFirstIn(e.getMessage).nonEmpty,
      e.getMessage)
  }

  test("Scc.closure past maxIter throws with the per-round new-pair counts") {
    // a directed 6-cycle gains 6 new pairs in each of its first 5 rounds
    val cycle = pairs((0L until 6L).map(v => (v, (v + 1) % 6)): _*)
    val e = intercept[IllegalStateException](
      Scc.closure(cycle, "a", "b", maxIter = 2))
    assert(e.getMessage.contains("Scc.closure did not converge in 2 rounds"))
    assert(e.getMessage.contains("progress per round: 6, 6"), e.getMessage)
    assert(Scc.closure(cycle, "a", "b").count() == 36L)
  }

  test("empty input returns empty rows without blocking on an observation") {
    import spark.implicits._
    val none = pairs()
    failAfter(300.seconds) {
      assert(Components.connectedComponents(none, "a", "b").count() == 0L)
      assert(Components.largeStarSmallStar(none, "a", "b").count() == 0L)
      assert(Scc.closure(none, "a", "b").count() == 0L)
      val noVerts = Seq.empty[(Long, Long)].toDF("id", "prio")
      assert(Mis.lubyRounds(none.toDF("src", "dst"), noVerts, 3).count() == 0L)
    }
  }

  test("q378 SCC: one feedback core, one-way periphery, canonical labels") {
    val rows = run("q378_scc").collect()
    assert(rows.length == 25, "every nation appears in the top-3 digraph")
    val byScc = rows.groupBy(_.getAs[Long]("scc_id"))
    // labels are canonical minimum members, sizes consistent
    byScc.foreach { case (scc, members) =>
      assert(members.map(_.getAs[Long]("nation_id")).min == scc,
        s"scc $scc is not its minimum member")
      members.foreach(m => assert(m.getAs[Long]("scc_size") == members.length))
    }
    val sizes = byScc.values.map(_.length).toSeq.sorted.reverse
    assert(sizes.head >= 2, "no feedback loop found — the top-3 rule failed")
    assert(sizes.count(_ >= 2) == 1, s"expected ONE core, got sizes $sizes")
    assert(sizes.count(_ == 1) >= 10, "periphery missing — graph degenerated")
  }

  test("q378 SCC labels agree with mutual reachability by brute force") {
    // rebuild the 25-node edge set and Floyd-Warshall it on the driver —
    // an independent algorithm, not the operator's closure join
    import org.apache.spark.sql.expressions.Window
    val flows = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev"))
    val w = Window.partitionBy("cn").orderBy(col("rev").desc, col("sn"))
    val edges = flows.where(col("cn") =!= col("sn"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select("cn", "sn").collect()
      .map(r => (r.getAs[Number]("cn").intValue, r.getAs[Number]("sn").intValue))
    val n = 25
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(a)(b) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    val expected = (0 until n).map { v =>
      v.toLong -> (0 until n)
        .filter(u => u == v || (reach(v)(u) && reach(u)(v))).min.toLong
    }.toMap
    run("q378_scc").collect().foreach { r =>
      val id = r.getAs[Long]("nation_id")
      assert(r.getAs[Long]("scc_id") == expected(id),
        s"nation $id labeled ${r.getAs[Long]("scc_id")}, FW says ${expected(id)}")
    }
  }

  test("q382 Luby MIS is independent, maximal, and terminates") {
    val census = run("q382_luby_mis").collect().sortBy(_.getAs[Long]("round"))
    assert(census.last.getAs[Long]("n_alive_after") == 0,
      "Luby did not decide every vertex within the unrolled rounds")
    // re-derive the sets through the operator API and check the DEFINITION
    val edges = Tables.customer(spark, sf)
      .select(col("c_custkey").as("id"))
      .select(col("id").as("u"),
        (graft.functions.Hashes.mulHash(col("id"), 11) % 1000).as("x"),
        (graft.functions.Hashes.mulHash(col("id"), 13) % 1000).as("y"))
    val pts = edges.collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("x"), r.getAs[Long]("y")))
    val adj = (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a < b && (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 625
    } yield (a, b)).toSet
    val verts = Tables.customer(spark, sf).select(col("c_custkey").as("id"))
      .withColumn("prio",
        graft.functions.Hashes.mulHash(col("id"), 91) * 10000000L + col("id"))
    val ed = spark.createDataFrame(adj.toSeq).toDF("src", "dst")
    val decided = graft.operators.Mis.lubyRounds(ed, verts, 6).collect()
    val mis = decided.filter(_.getAs[Boolean]("selected"))
      .map(_.getAs[Long]("id")).toSet
    val dropped = decided.filterNot(_.getAs[Boolean]("selected"))
      .map(_.getAs[Long]("id")).toSet
    adj.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"adjacent pair ($a,$b) both selected")
    }
    dropped.foreach { v =>
      assert(adj.exists { case (a, b) =>
        (a == v && mis(b)) || (b == v && mis(a))
      }, s"dropped vertex $v has no selected neighbor — not maximal")
    }
    assert(mis.size + dropped.size == pts.length, "every vertex decided")
  }

  test("q395 matching is perfect, stable, and customer-optimal") {
    val rows = run("q395_stable_matching").collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getAs[Long]("n_unmatched") == 0))
    // rebuild the preference matrices and check the DEFINITION: no pair
    // (c, s) both prefer each other to their assigned partners
    val flows = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev"))
      .collect()
      .map(r => (r.getAs[Number]("cn").longValue,
        r.getAs[Number]("sn").longValue) -> r.getAs[Long]("rev")).toMap
    def rev(c: Long, s: Long) = flows.getOrElse((c, s), 0L)
    // rank: smaller is better; order by (rev desc, id)
    def better(ra: Long, ia: Long, rb: Long, ib: Long): Boolean =
      ra > rb || (ra == rb && ia < ib)
    def cRank(c: Long, s: Long) =
      (0L until 25L).count(s2 => better(rev(c, s2), s2, rev(c, s), s)) + 1
    def sRank(s: Long, c: Long) =
      (0L until 25L).count(c2 => better(rev(c2, s), c2, rev(c, s), c)) + 1
    val mC = rows.map(r => r.getAs[Long]("customer_nation")
      -> r.getAs[Long]("supplier_nation")).toMap
    val mS = mC.map(_.swap)
    // reported ranks agree with the rebuilt preference matrices
    rows.foreach { r =>
      val (c, su) = (r.getAs[Long]("customer_nation"),
        r.getAs[Long]("supplier_nation"))
      assert(r.getAs[Long]("c_rank") == cRank(c, su))
      assert(r.getAs[Long]("s_rank") == sRank(su, c))
    }
    // stability: no blocking pair
    for (c <- 0L until 25L; su <- 0L until 25L if mC(c) != su) {
      val blocking = cRank(c, su) < cRank(c, mC(c)) &&
        sRank(su, c) < sRank(su, mS(su))
      assert(!blocking, s"blocking pair ($c, $su)")
    }
    // customer-optimality: agrees with a sequential driver-side GS
    val freeQ = scala.collection.mutable.Queue(0L until 25L: _*)
    val next = scala.collection.mutable.Map((0L until 25L).map(_ -> 0): _*)
    val prefs = (0L until 25L).map(c =>
      c -> (0L until 25L).sortBy(s2 => (-rev(c, s2), s2))).toMap
    val tenant = scala.collection.mutable.Map.empty[Long, Long]
    while (freeQ.nonEmpty) {
      val c = freeQ.dequeue()
      val su = prefs(c)(next(c))
      next(c) += 1
      tenant.get(su) match {
        case None => tenant(su) = c
        case Some(t) =>
          if (sRank(su, c) < sRank(su, t)) { tenant(su) = c; freeQ.enqueue(t) }
          else freeQ.enqueue(c)
      }
    }
    tenant.foreach { case (su, c) =>
      assert(mC(c) == su, s"GS replay disagrees at customer $c")
    }
  }
}
