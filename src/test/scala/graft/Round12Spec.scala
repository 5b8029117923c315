package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Property guards for the q378+ continuation: each pins the claim the
  * operator exists to make — e.g. the integer ACF/PACF being THE
  * autocorrelation function (cross-checked against an independent
  * double-precision computation, not just the oracle's mirrored SQL).
  */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q379 integer ACF/PACF matches an independent double computation") {
    val daily = Tables.events(spark, sf)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(round(greatest(col("value"), lit(0)) * 100, 0).cast("long"))
        .as("y"))
      .orderBy("day").collect().map(_.getAs[Long]("y").toDouble)
    val n = daily.length
    val mean = daily.sum / n
    val dev = daily.map(_ - mean)
    val den = dev.map(d => d * d).sum
    def rho(k: Int): Double =
      (0 until n - k).map(t => dev(t) * dev(t + k)).sum / den
    val (r1, r2, r3) = (rho(1), rho(2), rho(3))
    val pacf2 = (r2 - r1 * r1) / (1 - r1 * r1)
    val pacf3 = (r3 - 2 * r1 * r2 - r1 * r1 * r3 + r1 * r2 * r2
      + r1 * r1 * r1) / (1 - 2 * r1 * r1 - r2 * r2 + 2 * r1 * r1 * r2)
    val row = run("q379_acf_pacf").collect()(0)
    assert(row.getAs[Long]("n_days") == n)
    // integer formulation uses scaled devs (n·y − S) and truncating div;
    // agreement within 2 e9-units of the float ACF proves it computes the
    // same statistic (the oracle already pins bit-exactness)
    def ck(colName: String, v: Double): Unit =
      assert(math.abs(row.getAs[Long](colName) - v * 1e9) <= 2,
        s"$colName: ${row.getAs[Long](colName)} vs ${(v * 1e9).round}")
    ck("rho1_e9", r1); ck("rho2_e9", r2); ck("rho3_e9", r3)
    ck("rho4_e9", rho(4)); ck("rho5_e9", rho(5))
    ck("pacf1_e9", r1); ck("pacf2_e9", pacf2); ck("pacf3_e9", pacf3)
    // the diagnostic stays inside its mathematical range
    Seq("rho1_e9", "rho2_e9", "rho3_e9", "rho4_e9", "rho5_e9",
      "pacf2_e9", "pacf3_e9").foreach(c =>
      assert(math.abs(row.getAs[Long](c)) <= 1000000000L))
  }

  test("q380 t-closeness: small cohorts leak, the metric stays in [0,1]") {
    val rows = run("q380_t_closeness").collect()
    rows.foreach { r =>
      val t = r.getAs[Long]("t_ppm")
      assert(t >= 0 && t <= 1000000L, s"t_ppm $t outside [0, 1e6]")
      assert(r.getAs[Boolean]("breach") == (t > 60000L))
    }
    // at sf0.001 the (event_type, dow) cohorts are ~tens of rows — small
    // enough that some skew past t=0.06 while others hold (the metric
    // must DISCRIMINATE, not fire always or never)
    val breaches = rows.count(_.getAs[Boolean]("breach"))
    assert(breaches > 0, "no cohort breached — threshold vacuous")
    assert(breaches < rows.length, "every cohort breached — threshold vacuous")
  }

  test("q381 temperature scaling flattens the mixture monotonically") {
    val rows = run("q381_temperature_mixture").collect()
    def stats(c: String) = {
      val v = rows.map(_.getAs[Long](c))
      (v.min, v.max, v.sum)
    }
    val (min1, max1, sum1) = stats("p1_ppm")
    val (min2, max2, sum2) = stats("p2_ppm")
    val (min5, max5, sum5) = stats("p5_ppm")
    assert(max1 > max2 && max2 > max5, s"max must fall: $max1, $max2, $max5")
    assert(min1 < min2 && min2 < min5, s"min must rise: $min1, $min2, $min5")
    // each column is a distribution up to integer-division slack
    Seq(sum1, sum2, sum5).foreach(s =>
      assert(s <= 1000000L && s > 1000000L - rows.length, s"sum $s"))
  }

  test("q384 stratified and IPW estimators correct the planted confounding") {
    val r = run("q384_ipw_ate").collect()(0)
    val truth = 25000L * 1000000L // planted effect, e6 cents
    val naive = r.getAs[Long]("naive_e6")
    val strat = r.getAs[Long]("strat_ate_e6")
    val ipw = r.getAs[Long]("ipw_ate_e6")
    // the confounding is designed in: naive inhales the +40000·s stratum
    // effect through the s-dependent treatment rate
    assert(naive - truth > 20000L * 1000000L,
      s"naive $naive not visibly biased vs $truth")
    // both correctors land near the truth; stratified is the tighter one
    assert(math.abs(strat - truth) < 3000L * 1000000L, s"strat $strat")
    assert(math.abs(ipw - truth) < 5000L * 1000000L, s"ipw $ipw")
    assert(math.abs(strat - truth) < math.abs(naive - truth))
    assert(math.abs(ipw - truth) < math.abs(naive - truth))
  }

  test("q385 Heaps fit finds sublinear growth with a tight log-log line") {
    val r = run("q385_heaps_law").collect()(0)
    val beta = r.getAs[Long]("beta_e6")
    assert(beta > 0 && beta < 1000000L,
      s"beta_e6 $beta outside (0, 1) — not Heaps growth")
    assert(r.getAs[Long]("r2_e6") > 900000L, "log-log fit not tight")
    assert(r.getAs[Long]("vocab") > 1000L,
      "trigram vocabulary degenerate — unit choice regressed")
    assert(r.getAs[Long]("vocab") < r.getAs[Long]("total_tokens"))
  }

  test("q386 association rules respect the support/confidence identities") {
    val rows = run("q386_assoc_rules").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (nb, na, nc) = (r.getAs[Long]("n_both"), r.getAs[Long]("n_ant"),
        r.getAs[Long]("n_cons"))
      assert(nb <= math.min(na, nc), "pair support exceeds item support")
      assert(r.getAs[Long]("conf_e6") == nb * 1000000L / na)
      assert(r.getAs[Long]("conf_e6") <= 1000000L)
      assert(r.getAs[Long]("lift_e6") > 0)
    }
    val lifts = rows.map(_.getAs[Long]("lift_e6"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b },
      "not sorted by lift")
    // symmetric rule pairs share their lift (lift is direction-free)
    val byPair = rows.groupBy(r => {
      val a = r.getAs[String]("ant"); val c = r.getAs[String]("cons")
      if (a < c) (a, c) else (c, a)
    })
    byPair.values.filter(_.length == 2).foreach(p =>
      assert(p(0).getAs[Long]("lift_e6") == p(1).getAs[Long]("lift_e6")))
  }

  test("q387 BH catches every planted shift and never exceeds naive") {
    val rows = run("q387_bh_fdr").collect()
    assert(rows.length == 25)
    val planted = (0 until 25).filter(nat =>
      graft.functions.Hashes.mulHashLong(nat.toLong, 113) % 5 == 0)
      .map(_.toLong).toSet
    assert(planted.nonEmpty)
    rows.foreach { r =>
      val nat = r.getAs[Long]("nation_id")
      if (planted(nat))
        assert(r.getAs[Boolean]("bh_reject"),
          s"planted nation $nat not rejected by BH")
      if (r.getAs[Boolean]("bh_reject"))
        assert(r.getAs[Boolean]("naive_reject"),
          s"BH rejected $nat that naive keeps — step-up broken")
    }
    val bh = rows.count(_.getAs[Boolean]("bh_reject"))
    assert(bh <= planted.size + 2,
      s"BH rejected $bh with only ${planted.size} planted — FDR not controlled")
    // p-values are valid probabilities, ordered consistently with |z|
    rows.foreach(r => assert(r.getAs[Long]("p_e6") >= 0
      && r.getAs[Long]("p_e6") <= 1000000L))
  }

  test("q388 decay weights are valid and rankings are permutations") {
    val rows = run("q388_decayed_counts").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_w_e6") <= 1000000L, "a weight exceeded 1")
      assert(r.getAs[Long]("mean_w_e6") > 0)
      assert(r.getAs[Long]("decayed_e6") <= r.getAs[Long]("n_raw") * 1000000L)
    }
    Seq("rank_raw", "rank_decayed").foreach { c =>
      assert(rows.map(_.getAs[Long](c)).sorted.toSeq
        == (1L to rows.length).toSeq, s"$c is not a permutation")
    }
  }

  test("q389 KMV join-cardinality estimate lands within 10% of exact") {
    val r = run("q389_kmv_join_card").collect()(0)
    assert(r.getAs[Long]("l_overlap") <= r.getAs[Long]("k_union"))
    assert(r.getAs[Long]("exact_inter") > 0)
    assert(r.getAs[Long]("err_ppm") < 100000L,
      s"estimate ${r.getAs[Long]("est_inter")} vs exact " +
        s"${r.getAs[Long]("exact_inter")} — err ${r.getAs[Long]("err_ppm")}ppm")
    // independent truth: distinct customer keys with positive balance that
    // actually appear among orders
    import graft.functions.Hashes
    val a = Tables.orders(spark, sf)
      .select(Hashes.mulHash(col("o_custkey"), 71).as("hv")).distinct()
    val b = Tables.customer(spark, sf).where(col("c_acctbal") > 0)
      .select(Hashes.mulHash(col("c_custkey"), 71).as("hv")).distinct()
    assert(r.getAs[Long]("exact_inter")
      == a.join(b, Seq("hv"), "left_semi").count())
  }

  test("q390 skyline equals the brute-force dominance frontier") {
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("price_c"),
        col("p_size").cast("long").as("sz"))
      .collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("price_c"),
        r.getAs[Long]("sz")))
    def dominated(p: (Long, Long, Long)): Boolean = parts.exists { q =>
      q._1 != p._1 && q._2 <= p._2 && q._3 >= p._3 &&
        (q._2 < p._2 || q._3 > p._3)
    }
    val expected = parts.filterNot(dominated).map(_._1).toSet
    val got = run("q390_skyline").collect()
      .map(_.getAs[Long]("p_partkey")).toSet
    assert(got == expected,
      s"frontier mismatch: extra ${got -- expected}, missing ${expected -- got}")
    // frontier property: sorted by price, sizes strictly increase
    val rows = run("q390_skyline").collect()
    val szs = rows.sortBy(r =>
      (r.getAs[Long]("price_c"), r.getAs[Long]("p_partkey")))
      .map(_.getAs[Long]("sz"))
    assert(szs.zip(szs.tail).forall { case (a, b) => a < b })
  }

  test("q391 DBSCAN census matches a brute-force density clustering") {
    import graft.functions.Hashes
    val pts = Tables.customer(spark, sf)
      .select(col("c_custkey").as("id"),
        (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
        (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("x"), r.getAs[Long]("y")))
    def near(a: (Long, Long, Long), b: (Long, Long, Long)) =
      a._1 != b._1 &&
        (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3) <= 75 * 75
    val nbrs = pts.map(p => p._1 -> pts.filter(q => near(p, q)).map(_._1))
      .toMap
    val core = pts.map(_._1).filter(id => nbrs(id).length >= 3).toSet
    // core-core components by union-find
    val parent = scala.collection.mutable.Map(core.toSeq.map(c => c -> c): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (c <- core; n <- nbrs(c) if core(n)) {
      val (ra, rb) = (find(c), find(n))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val borders = pts.map(_._1)
      .filter(id => !core(id) && nbrs(id).exists(core))
    val nNoise = pts.length - core.size - borders.length
    val rows = run("q391_dbscan").collect()
    val noiseRow = rows.filter(_.isNullAt(0))
    assert(noiseRow.length == (if (nNoise > 0) 1 else 0))
    if (nNoise > 0)
      assert(noiseRow(0).getAs[Long]("n_total") == nNoise)
    assert(rows.map(_.getAs[Long]("n_core")).sum == core.size)
    assert(rows.map(_.getAs[Long]("n_border")).sum == borders.length)
    assert(rows.map(_.getAs[Long]("n_total")).sum == pts.length)
    // per-cluster core counts match the union-find components
    val sizes = core.groupBy(find).map { case (r, m) => (r, m.size.toLong) }
    rows.filterNot(_.isNullAt(0)).foreach { r =>
      assert(sizes(r.getAs[Long]("cluster_id")) == r.getAs[Long]("n_core"),
        s"cluster ${r.getAs[Long]("cluster_id")} core count mismatch")
    }
  }

  test("q392 Bradley-Terry ratings order consistently with win rates") {
    val rows = run("q392_bradley_terry").collect()
    assert(rows.length == 25)
    val mean = rows.map(_.getAs[Long]("r2_e6")).sum / rows.length
    assert(math.abs(mean - 1000000L) <= 25, s"normalization drifted: $mean")
    def wr(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("wins").toDouble / r.getAs[Long]("games")
    val byRating = rows.sortBy(-_.getAs[Long]("r2_e6"))
    val topWr = wr(byRating.head)
    val botWr = wr(byRating.last)
    assert(topWr > 0.5 && botWr < 0.5,
      s"extremes not separated: top $topWr bot $botWr")
    // Spearman-ish sanity: the top-5 by rating all out-win the bottom-5
    val top5 = byRating.take(5).map(wr).min
    val bot5 = byRating.takeRight(5).map(wr).max
    assert(top5 > bot5, "rating order contradicts win-rate order")
  }

  test("q393 matrix profile: symmetric motif, exclusion zone respected") {
    val rows = run("q393_matrix_profile").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("w_start") - r.getAs[Long]("nn_start"))
        >= 4, "exclusion zone violated")
      val d2 = r.getAs[Long]("d2_e6")
      assert(d2 >= -10 && d2 <= 28000000L + 10,
        s"d2 $d2 outside [0, 4w] (z-norm distance range)")
    }
    val motifs = rows.filter(_.getAs[Boolean]("is_motif"))
    assert(motifs.nonEmpty)
    // the global motif pair is MUTUAL: each member's nearest neighbor is
    // the other (they share the same minimal distance)
    val byStart = rows.map(r =>
      r.getAs[Long]("w_start") -> r.getAs[Long]("nn_start")).toMap
    motifs.foreach { m =>
      val (a, b) = (m.getAs[Long]("w_start"), m.getAs[Long]("nn_start"))
      assert(byStart(b) == a, s"motif pair ($a,$b) not mutual")
    }
  }

  test("q394 Holt-Winters matches an independent replay of both recurrences") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(round(greatest(col("value"), lit(0)) * 100, 0).cast("long"))
        .as("y"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"),
        r.getAs[Long]("y")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(v => (v._2, v._3)))
    val expected = scala.collection.mutable.Map
      .empty[(String, Long), (Long, Long)]
    daily.foreach { case (et, series) =>
      val week = series.take(7).map(_._2)
      var l = week.sum / 7
      var b = 0L
      var lh = l
      var bh = 0L
      val seas = scala.collection.mutable.Queue(week.map(_ - l): _*)
      series.drop(7).foreach { case (day, y) =>
        val s1 = seas.dequeue()
        expected((et, day)) = (l + b + s1, lh + bh)
        val lN = (y - s1 + l + b) / 2
        b = ((lN - l) + b) / 2
        seas.enqueue(((y - lN) + s1) / 2)
        l = lN
        val lhN = (y + lh + bh) / 2
        bh = ((lhN - lh) + bh) / 2
        lh = lhN
      }
    }
    val rows = run("q394_holt_winters").collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val key = (r.getAs[String]("event_type"), r.getAs[Long]("day"))
      val (fhw, fholt) = expected(key)
      assert(r.getAs[Long]("f_hw") == fhw, s"$key HW forecast diverged")
      assert(r.getAs[Long]("f_holt") == fholt, s"$key Holt forecast diverged")
      assert(r.getAs[Long]("err_hw")
        == math.abs(r.getAs[Long]("y_cents") - fhw))
      assert(r.getAs[Long]("err_holt")
        == math.abs(r.getAs[Long]("y_cents") - fholt))
    }
  }

  test("q396 TextRank scores are a proper distribution over hub tokens") {
    val rows = run("q396_textrank").collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Double]("textrank"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    scores.foreach(s => assert(s > 0 && s < 1))
    // PageRank mass: 31 tokens share total 1, so top-10 hubs must each
    // beat the uniform floor 1/31 while no token hoards the graph
    scores.foreach(s => assert(s > 1.0 / 31 * 0.8 && s < 0.2))
  }

  test("q397 CUPED harvests the planted covariate correlation") {
    val r = run("q397_cuped").collect()(0)
    assert(r.getAs[Long]("theta_e6") > 0)
    val nt = r.getAs[Long]("n_treated")
    assert(nt > 0 && nt < r.getAs[Long]("n_users"))
    // the guarantee CUPED actually makes: variance falls by rho^2 —
    // with the planted baseline dominating, more than half the variance
    // must vanish (94.7% at sf0.01, 77% at the 15-user sf0.001)
    assert(r.getAs[Long]("var_reduction_ppm") > 500000L,
      s"variance reduction ${r.getAs[Long]("var_reduction_ppm")}ppm")
    // both estimators are unbiased for the planted +5000 — wide bands
    // because sf0.001 has only 15 users; the point-estimate tightening
    // shows up in SE, not in any single draw
    Seq("naive_ate_e6", "cuped_ate_e6").foreach { c =>
      assert(math.abs(r.getAs[Long](c) - 5000000000L) < 15000000000L,
        s"$c = ${r.getAs[Long](c)}")
    }
  }

  test("q398 Mondrian cells satisfy k, partition the rows, and nest") {
    val rows = run("q398_mondrian").collect()
    assert(rows.length > 1, "Mondrian never split — k gate broken")
    rows.foreach(r => assert(r.getAs[Long]("n") >= 5,
      s"cell ${r.getAs[Long]("cell_id")} violates k=5"))
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total,
      "cells do not partition the input")
    rows.foreach { r =>
      assert(r.getAs[Long]("dow_min") <= r.getAs[Long]("dow_max"))
      assert(r.getAs[Long]("tier_min") <= r.getAs[Long]("tier_max"))
      // depth-3 coding: every leaf id carries three split bits
      val id = r.getAs[Long]("cell_id")
      assert(id >= 8 && id < 16, s"cell id $id not a depth-3 leaf code")
    }
    // cells are pairwise disjoint rectangles in (dow, tier)
    for (a <- rows; b <- rows
         if a.getAs[Long]("cell_id") < b.getAs[Long]("cell_id")) {
      val overlap =
        a.getAs[Long]("dow_min") <= b.getAs[Long]("dow_max") &&
          b.getAs[Long]("dow_min") <= a.getAs[Long]("dow_max") &&
          a.getAs[Long]("tier_min") <= b.getAs[Long]("tier_max") &&
          b.getAs[Long]("tier_min") <= a.getAs[Long]("tier_max")
      assert(!overlap, s"cells ${a.getAs[Long]("cell_id")} and " +
        s"${b.getAs[Long]("cell_id")} overlap")
    }
  }

  test("q383 streamed KMV sketch equals the batch sketch bit-for-bit") {
    val rows = run("q383_stream_kmv").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("stream_eq_batch"),
        s"${r.getAs[String]("event_type")}: streamed sketch diverged")
      val est = r.getAs[Long]("kmv_est")
      val exact = r.getAs[Long]("n_exact")
      assert(math.abs(est - exact) * 10 <= exact,
        s"KMV estimate $est vs exact $exact — outside 10%")
    }
  }
}
