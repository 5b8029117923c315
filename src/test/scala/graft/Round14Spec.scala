package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Property guards for the round-10 additions: C420 chroma upsampling
  * (the hash oracle proves the 4× sums, only a hand-built frame proves
  * WHERE each chroma byte landed), the full-content tokenHash (collision
  * census + consumer sanity), and the crash-atomic compaction swap (every
  * crash window of the protocol replayed against the recovery path).
  */
class Round14Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("C420 upsample places each chroma byte on its 2x2 block") {
    import graft.operators.MediaCodecs
    // W2 H2 C420: Y = [1,2,3,4], U = [9], V = [200 as signed byte]
    val bytes = "YUV4MPEG2 W2 H2 F25:1 C420\nFRAME\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 9, 200.toByte)
    val vid = MediaCodecs.decodeY4m(bytes)
    assert(vid.width == 2 && vid.height == 2 && vid.frames.length == 1)
    val fr = vid.frames(0)
    assert(fr.length == 12, "upsampled frame must be full-res Y++U++V")
    assert(fr.slice(0, 4).toSeq == Seq[Byte](1, 2, 3, 4))
    assert(fr.slice(4, 8).toSeq == Seq[Byte](9, 9, 9, 9))
    assert(fr.slice(8, 12).forall(_ == 200.toByte))
    // a 4x2 frame must replicate along BOTH axes: U = [10, 20] covers
    // columns 0-1 and 2-3 of both rows
    val wide = "YUV4MPEG2 W4 H2 F25:1 C420mpeg2\nFRAME\n"
      .getBytes("US-ASCII") ++
      (Array.range(0, 8).map(_.toByte) ++ Array[Byte](10, 20, 30, 40))
    val v2 = MediaCodecs.decodeY4m(wide)
    assert(v2.frames(0).slice(8, 16).toSeq ==
      Seq[Byte](10, 10, 20, 20, 10, 10, 20, 20))
    assert(v2.frames(0).slice(16, 24).toSeq ==
      Seq[Byte](30, 30, 40, 40, 30, 30, 40, 40))
  }

  test("C420 rejects odd dimensions; unknown colorspaces still rejected") {
    import graft.operators.MediaCodecs
    val odd = "YUV4MPEG2 W3 H2 F25:1 C420\nFRAME\n".getBytes("US-ASCII") ++
      Array.fill[Byte](9)(0)
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeY4m(odd))
    assert(e.getMessage.contains("even dimensions"))
    val oddH = "YUV4MPEG2 W4 H3 F25:1 C420jpeg\nFRAME\n"
      .getBytes("US-ASCII") ++ Array.fill[Byte](18)(0)
    intercept[IllegalArgumentException](MediaCodecs.decodeY4m(oddH))
    val mono = "YUV4MPEG2 W4 H2 F25:1 Cmono\nFRAME\n".getBytes("US-ASCII") ++
      Array.fill[Byte](8)(0)
    intercept[IllegalArgumentException](MediaCodecs.decodeY4m(mono))
  }

  test("q434 C420 fixtures decode with exactly 4x the subsampled chroma") {
    val rows = run("q434_y4m_420").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val v = r.getAs[Long]("media_id")
      val nf = r.getAs[Long]("n_frames")
      assert(nf == 5 + v % 4)
      assert(r.getAs[Long]("n_sampled") == (nf + 1) / 2)
      // upsampled chroma sums are 4x an integer byte sum by construction
      assert(r.getAs[Long]("sum_u") % 4 == 0)
      assert(r.getAs[Long]("sum_v") % 4 == 0)
      assert(r.getAs[Long]("sum_y") > 0 && r.getAs[Long]("wsum") > 0)
    }
  }

  test("tokenHash is full-content: census shows zero structural collisions") {
    import graft.functions.{Hashes, TextHashExprs}
    import org.apache.spark.unsafe.types.UTF8String
    def th(s: String) = TextHashExprs.tokenHash(UTF8String.fromString(s))
    // the legacy (first, last, length) fingerprint collided these pairs
    assert(th("cat") != th("cot"))
    assert(th("walked") != th("warmed"))
    assert(th("Customer#000000001") != th("Customer#000000011"))
    // the planted birthday collision the DupSpans spec uses stays a collision
    assert(th("yislpv") == th("ijiaoj"))
    // empty-token contract: h("") = 0 on both engines
    assert(th("") == 0L)
    // census query: new hash has zero collided tokens on the fixture vocab,
    // the legacy hash collapsed the customer-name tokens
    val r = run("q433_tokenhash_census").head()
    assert(r.getAs[Long]("collided_new") == 0L)
    assert(r.getAs[Long]("collided_old") > r.getAs[Long]("n_tokens") / 2,
      "fixture must actually exercise the legacy collapse")
    assert(r.getAs[Long]("n_hashes_new") == r.getAs[Long]("n_tokens"))
  }

  test("NSW maintenance policy: ratio guard, refresh cadence, upsert guard") {
    import graft.operators.NswGraph
    // broadcast-ratio guard: at or above 25% of the corpus → rebuild
    assert(NswGraph.maintenanceDecision(25, 100, 0) == "rebuild")
    assert(NswGraph.maintenanceDecision(250000, 1000000, 0) == "rebuild")
    assert(NswGraph.maintenanceDecision(24, 100, 0) == "upsert")
    assert(NswGraph.maintenanceDecision(1, 0, 0) == "rebuild",
      "empty corpus is always a (first) build")
    // refresh cadence: the 4th consecutive upsert carries the refresh
    assert(NswGraph.maintenanceDecision(1, 100, 2) == "upsert")
    assert(NswGraph.maintenanceDecision(1, 100, 3) == "upsert_refresh")
    assert(NswGraph.maintenanceDecision(1, 100, 7) == "upsert_refresh")
    // the checked upsert REFUSES a corpus-sized batch instead of
    // broadcasting it (the wrong-call-at-scale failure mode)
    val sql = spark
    import sql.implicits._
    val emb = (0L until 40L).map(i =>
      (i, (0 until 4).map(dd => ((i * 7 + dd) % 5).toFloat))).toDF(
      "vec_id", "embedding")
    val base = emb.where(col("vec_id") < 20)
    val batch = emb.where(col("vec_id") >= 20) // 20 vs 20 = 100% >= 25%
    val g = graft.operators.NswGraph.buildRefined(base, "vec_id",
      "embedding", dim = 4, bands = 2, rbits = 2, seed = 5, cap = 8,
      kInternal = 6, rounds = 1, deg = 4)
    val e = intercept[IllegalArgumentException] {
      graft.operators.NswGraph.upsertChecked(base, batch, g, "vec_id",
        "embedding", dim = 4, bands = 2, rbits = 2, seed = 5, cap = 8,
        kInternal = 6, deg = 4)
    }
    assert(e.getMessage.contains("refusing upsert"))
    // and a policy-approved batch goes through the same checked entry
    val small = emb.where(col("vec_id") >= 36) // 4 of 36 = 11% < 25%
    val g2 = graft.operators.NswGraph.buildRefined(
      emb.where(col("vec_id") < 36), "vec_id", "embedding", dim = 4,
      bands = 2, rbits = 2, seed = 5, cap = 8, kInternal = 6, rounds = 1,
      deg = 4)
    val up = graft.operators.NswGraph.upsertChecked(
      emb.where(col("vec_id") < 36), small, g2, "vec_id", "embedding",
      dim = 4, bands = 2, rbits = 2, seed = 5, cap = 8, kInternal = 6,
      deg = 4)
    assert(up.where(col("src") >= 36).count() > 0,
      "upserted nodes must gain out-edges")
    // the q436 replay walks the full decision surface in order
    val decisions = run("q436_nsw_policy")
      .orderBy("wave").collect().map(_.getAs[String]("decision")).toSeq
    assert(decisions.take(4).forall(_ == "rebuild"),
      s"waves 1-4 have batch/corpus >= 1/4: $decisions")
    assert(decisions.contains("upsert") &&
      decisions.contains("upsert_refresh"),
      s"the simulation must exercise all three decisions: $decisions")
  }

  test("ExactSubstr finds exactly the planted maximal repeats") {
    import graft.operators.ExactSubstr
    val sql = spark
    import sql.implicits._
    // unique filler tokens (never repeat anywhere)
    def noise(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val run = (0 until 20).map(i => s"shared$i") // the planted 20-token run
    val short = (0 until 7).map(i => s"tiny$i")  // below minLen — invisible
    // doc 3 carries the run with token 10 flipped → splits into 10 + 9
    val broken = run.updated(10, "FLIPPED")
    val docs = Seq(
      (1L, (noise("a", 5) ++ run ++ noise("b", 4) ++ short).mkString(" ")),
      (2L, (noise("c", 9) ++ run ++ noise("d", 2) ++ short).mkString(" ")),
      (3L, (noise("e", 3) ++ broken ++ noise("f", 6)).mkString(" ")))
      .toDF("doc_id", "text")
    val out = ExactSubstr.maximalRepeats(docs, col("doc_id"),
        split(col("text"), " ", -1), minLen = 8, cap = 16)
      .select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // (1,2): the full 20-token run at 1-based offsets 6 and 10; the 7-token
    // `short` block must NOT surface. (1,3)/(2,3): the flip splits the run
    // into maximal halves of 10 and 9 — proves extension stops exactly at
    // the mismatch and maximality needs no window alignment.
    val expected = Set(
      (1L, 2L, 6L, 10L, 20L),
      (1L, 3L, 6L, 4L, 10L), (1L, 3L, 17L, 15L, 9L),
      (2L, 3L, 10L, 4L, 10L), (2L, 3L, 21L, 15L, 9L))
    assert(out == expected, s"got $out")
    // fp equality across pairs sharing the same span content: the (1,2)
    // full-run fp must differ from the half-run fps
    val fps = ExactSubstr.maximalRepeats(docs, col("doc_id"),
        split(col("text"), " ", -1), minLen = 8, cap = 16)
      .select("len_tokens", "fp").as[(Long, Long)].collect().toSet
    assert(fps.map(_._1) == Set(9L, 10L, 20L))
    assert(fps.size == 3, "same span content must fingerprint identically")
  }

  test("exact-substring gate rejects the planted contamination only") {
    import graft.operators.ExactSubstr
    val sql = spark
    import sql.implicits._
    val run = (0 until 10).map(i => s"lic$i") // the quarantined text
    val corpus = Seq(
      (0L, ((0 until 12).map(i => s"c0x$i") ++ run).mkString(" ")),
      (2L, (0 until 30).map(i => s"c2x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val probe = Seq(
      (1L, ((0 until 5).map(i => s"p1x$i") ++ run ++
        Seq("tail1")).mkString(" ")),                 // carries the run
      (3L, (0 until 25).map(i => s"p3x$i").mkString(" "))) // clean
      .toDF("doc_id", "text")
    val xmr = ExactSubstr.crossMaximalRepeats(probe, corpus, col("doc_id"),
        split(col("text"), " ", -1), minLen = 8, cap = 16)
      .select("probe_id", "corpus_id", "start_p", "start_c", "len_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(xmr == Set((1L, 0L, 6L, 13L, 10L)),
      s"gate must find exactly the planted 10-token run: $xmr")
  }

  test("weighted Jaccard is the multiset form: repetition changes the score") {
    // hand case: A = [x x x y], B = [x y y] →
    // Σmin = min(3,1) + min(1,2) = 2; Σmax = na + nb − Σmin = 4 + 3 − 2 = 5
    // wj = 2/5 = 0.4 — the SET Jaccard of {x, y} vs {x, y} would be 1.0
    val inter = math.min(3, 1) + math.min(1, 2)
    val wjPpm = inter * 1000000L / (4 + 3 - inter)
    assert(wjPpm == 400000L)
    // on the corpus: every q443 pair satisfies 0 < wj_ppm <= 1e6 and
    // inter <= min doc length by construction
    val rows = run("q443_weighted_jaccard").collect()
    rows.foreach { r =>
      val wj = r.getAs[Long]("wj_ppm")
      assert(wj >= 300000L && wj <= 1000000L)
      assert(r.getAs[Long]("inter") > 0)
    }
  }

  test("reliability diagram: ECE is the n-weighted mean gap") {
    val rows = run("q445_reliability_diagram").collect()
    assert(rows.nonEmpty)
    val ece = rows.head.getAs[Long]("ece_e6")
    assert(rows.forall(_.getAs[Long]("ece_e6") == ece), "ECE is global")
    val n = rows.map(_.getAs[Long]("n")).sum
    val wsum = rows.map(r => r.getAs[Long]("n") * r.getAs[Long]("gap_e6")).sum
    assert(ece == wsum / n, "ECE must equal the weighted mean of bin gaps")
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_p_e6") >= 0 &&
        r.getAs[Long]("mean_p_e6") <= 1000000)
      assert(r.getAs[Long]("rate_e6") >= 0 &&
        r.getAs[Long]("rate_e6") <= 1000000)
    }
  }

  test("TTL throttle re-keeps a steady stream; sessionization would not") {
    val rows = run("q442_ttl_throttle").collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("day"))
      // greedy contract: kept days are >= 7 apart, and every dropped day
      // is < 7 after the last kept day
      var lastKept = Long.MinValue / 2
      sorted.foreach { r =>
        val day = r.getAs[Long]("day")
        val kept = r.getAs[Long]("kept")
        if (kept == 1L) {
          assert(day >= lastKept + 7, s"user $u kept day $day too soon")
          lastKept = day
        } else {
          assert(day < lastKept + 7, s"user $u should have kept day $day")
        }
      }
      assert(sorted.head.getAs[Long]("kept") == 1L, "first day always kept")
    }
    // the corpus spans ~30 uniformly-active days, so multi-keep users exist
    assert(byUser.values.exists(_.count(_.getAs[Long]("kept") == 1L) >= 2),
      "fixture must exercise the re-keep path sessionization lacks")
  }

  test("q446/q447/q448/q450 invariants: monotone pass@k, bounded recall, " +
    "noise algebra, disjoint segments") {
    // pass@k is monotone in k (adding draws can only help)
    val pk = run("q446_pass_at_k").orderBy("k").collect()
      .map(r => r.getAs[Int]("k") -> r.getAs[Long]("mean_pass_e6"))
    assert(pk.map(_._1).toSeq == Seq(1, 5, 10))
    assert(pk.sliding(2).forall(p => p(0)._2 <= p(1)._2),
      s"pass@k must be monotone in k: ${pk.toSeq}")
    assert(pk.forall { case (_, v) => v >= 0 && v <= 1000000 })
    // binary-quant recall is a 0..10 hit count over a 10-element list
    run("q447_binary_quant").collect().foreach { r =>
      val h = r.getAs[Long]("n_hit")
      assert(h >= 0 && h <= 10)
      assert(r.getAs[Long]("recall10_ppm") == h * 1000000 / 10)
    }
    // DP release: released = true*1e6 + noise, exactly
    run("q448_dp_counts").collect().foreach { r =>
      assert(r.getAs[Long]("released_e6") ==
        r.getAs[Long]("true_n") * 1000000L + r.getAs[Long]("noise_e6"))
      assert(r.getAs[Long]("abs_err_e6") ==
        math.abs(r.getAs[Long]("noise_e6")))
    }
    // VAD segments per file: ordered, disjoint, separated by >= 1 inactive
    // frame, n_frames consistent with the endpoints
    run("q450_vad_segments").collect()
      .groupBy(_.getAs[Long]("media_id")).foreach { case (_, rs) =>
        val segs = rs.sortBy(_.getAs[Long]("seg_idx"))
          .map(r => (r.getAs[Long]("start_frame"),
            r.getAs[Long]("end_frame"), r.getAs[Long]("n_frames")))
        segs.foreach { case (a, b, n) => assert(b - a + 1 == n && n >= 1) }
        segs.sliding(2).foreach {
          case Array((_, e1, _), (s2, _, _)) =>
            assert(s2 >= e1 + 2, "segments must be split by inactive frames")
          case _ =>
        }
      }
  }

  test("q452/q453/q454 invariants: kappa <= po, ELO zero-sum, Shapley rank") {
    // kappa is chance-corrected: never above raw agreement, and the
    // 2x2 census partitions n
    run("q452_cohens_kappa").collect().foreach { r =>
      assert(r.getAs[Long]("kappa_e6") <= r.getAs[Long]("po_ppm"))
      assert(r.getAs[Long]("n11") + r.getAs[Long]("n10")
        + r.getAs[Long]("n01") + r.getAs[Long]("n00") == r.getAs[Long]("n"))
    }
    // ELO is zero-sum with integer deltas (da = -db exactly), so the
    // ladder total is invariant at 8 x 1000 after EVERY match
    val elo = run("q453_elo_ladder").orderBy("m").collect()
    assert(elo.length == 150)
    val ratings = Array.fill(8)(1000L)
    elo.foreach { r =>
      ratings(r.getAs[Long]("pa").toInt) = r.getAs[Long]("r_pa_after")
      ratings(r.getAs[Long]("pb").toInt) = r.getAs[Long]("r_pb_after")
      assert(ratings.sum == 8000L,
        s"match ${r.getAs[Long]("m")}: ladder total ${ratings.sum}")
    }
    // the stronger true-strength pool must end above the weaker
    assert(ratings.slice(4, 8).sum > ratings.slice(0, 4).sum,
      s"true strength must surface in the ladder: ${ratings.toSeq}")
    // KNN-Shapley: value ranking is non-increasing and the efficiency
    // total is one number per test point
    run("q454_knn_shapley").collect()
      .groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
        val sorted = rs.sortBy(_.getAs[Long]("value_rank"))
        val vals = sorted.map(_.getAs[Long]("shap_e9"))
        assert(vals.zip(vals.tail).forall { case (a, b) => a >= b })
        assert(rs.map(_.getAs[Long]("total_e9")).distinct.length == 1)
      }
  }

  test("compaction recovery settles every crash window without loss or dup") {
    import graft.streaming.DocStreams
    val sql = spark
    import sql.implicits._
    def writeBatch(out: String, id: String, ids: Seq[Long]): Unit =
      ids.map(i => (i, new java.sql.Timestamp(1700000000000L + i), s"doc $i"))
        .toDF("doc_id", "ingest_ts", "text")
        .repartition(1).write.mode("overwrite").parquet(s"$out/batch=$id")
    def landed(out: String): Set[Long] =
      spark.read.parquet(s"$out/*").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    Scratch.run(spark, "graft_crash_") { root =>
      // --- window A: crash DURING the tmp write (no manifest) ---
      val a = s"$root/a"
      writeBatch(a, "0", Seq(1L, 2L))
      writeBatch(a, "1", Seq(3L))
      // a half-written tmp: parquet files but no _folded manifest
      writeBatch(a, "x", Seq(99L))
      new java.io.File(s"$a/batch=x").renameTo(new java.io.File(s"$a/.compact_tmp"))
      assert(DocStreams.compactGateOutput(spark, a) == 2)
      assert(landed(a) == Set(1L, 2L, 3L), "window A lost or duplicated rows")
      assert(!new java.io.File(s"$a/.compact_tmp").exists)

      // --- window B: crash between the aside-rename and the final rename
      // (tmp complete WITH manifest, batch=compacted moved to .compact_old,
      // folded dirs partially deleted) ---
      val b = s"$root/b"
      writeBatch(b, "compacted", Seq(1L, 2L)) // prior consolidated
      writeBatch(b, "5", Seq(3L))
      writeBatch(b, "6", Seq(4L))
      // the would-be consolidated tmp folds everything
      writeBatch(b, "t", Seq(1L, 2L, 3L, 4L))
      val tmpB = new java.io.File(s"$b/.compact_tmp")
      new java.io.File(s"$b/batch=t").renameTo(tmpB)
      java.nio.file.Files.write(
        new java.io.File(tmpB, "_folded").toPath,
        "batch=5\nbatch=6".getBytes("UTF-8"))
      new java.io.File(s"$b/batch=compacted")
        .renameTo(new java.io.File(s"$b/.compact_old"))
      Scratch.rmrf(new java.io.File(s"$b/batch=5")) // partially-finished deletion
      // next compaction entry must finish the swap: no loss, no dup
      DocStreams.compactGateOutput(spark, b)
      assert(landed(b) == Set(1L, 2L, 3L, 4L), "window B lost or duplicated")
      assert(!new java.io.File(s"$b/.compact_old").exists)
      assert(!new java.io.File(s"$b/.compact_tmp").exists)
      assert(!new java.io.File(s"$b/batch=6").exists,
        "folded dir survived — its rows are duplicated in batch=compacted")

      // --- window C: crash between the final rename and the old cleanup ---
      val c = s"$root/c"
      writeBatch(c, "compacted", Seq(1L, 2L, 3L)) // the NEW consolidated dir
      writeBatch(c, "old", Seq(1L, 2L))           // the superseded copy
      new java.io.File(s"$c/batch=old")
        .renameTo(new java.io.File(s"$c/.compact_old"))
      DocStreams.compactGateOutput(spark, c)
      assert(landed(c) == Set(1L, 2L, 3L), "window C lost or duplicated")
      assert(!new java.io.File(s"$c/.compact_old").exists)
    }
  }
}
