package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit guards for the round-8 additions: the data-driven q281 channel
  * set (r7 verdict missing #4), plus cases added as the round progresses.
  */
class Round9Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("q281 attribution discovers channels from the data (no static list)") {
    import spark.implicits._
    // the oracle SQL must carry no hardcoded channel literals
    val sql = SparkEntry.oracleSql("q281_markov_attribution")
    assert(!sql.contains("'click'") && !sql.contains("'view'") &&
      !sql.contains("'signup'"))
    // a fixture with a channel ("promo") the old static list never knew:
    //   u1: view → click → purchase   u2: promo → (lost)   u3: purchase only
    Scratch.run(spark, "graft_attr_") { root =>
      val us = 1000000L
      Seq(
        (1L, 1L * us, 1L, "view", 0.0, "{}"),
        (2L, 2L * us, 1L, "click", 0.0, "{}"),
        (3L, 3L * us, 1L, "purchase", 5.0, "{}"),
        (4L, 1L * us, 2L, "promo", 0.0, "{}"),
        (5L, 1L * us, 3L, "purchase", 7.0, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.col("us")).as("ts"),
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("value"),
          org.apache.spark.sql.functions.col("props"))
        .coalesce(1).write.parquet(s"$root/events.parquet")
      val out = SparkEntry.queries("q281_markov_attribution")(spark, root.toString)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      // transition census: START→{view, promo, CONV} each 1/3 (333333 e-6
      // floor); view→click→CONV chain is certain; promo absorbs to LOST.
      // base aS = .333333·1 + .333333·0 + .333333 = .666666; removing promo
      // changes nothing (its absorption is already 0); removing view or
      // click kills the u1 path → (.666666−.333333)/.666666 → 500000 ppm.
      assert(out.map(_._1).toSeq == Seq("click", "promo", "view"))
      assert(out.forall(_._2 == 666666000L))
      assert(out.map(t => t._1 -> t._3).toMap ==
        Map("click" -> 500000L, "promo" -> 0L, "view" -> 500000L))
    }
  }

  test("q295's pinned DCG discounts re-derive from 1/log2(i+1)") {
    // the literals exist so neither engine evaluates a cross-engine log in
    // the data path; this is the one place the formula is computed
    val derived = (1 to 10).map { i =>
      BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000
    }.map(_.toLongExact)
    assert(derived == graft.queries.RankMetricsSql.WE6)
    // and the closed-form ideal DCG matches the in-query fold
    val idcg = graft.queries.RankMetricsSql.WE6.zipWithIndex
      .map { case (w, i) => (10L - i) * w }.sum
    assert(idcg == 29966114L)
  }

  test("robustPrune drops the occluded near-duplicate, keeps the new direction") {
    import graft.operators.NswGraph
    import spark.implicits._
    // u=(1,0); c1≈same direction (best); c2 hugs c1 (occluded by it:
    // α·(1−cos(c1,c2)) ≤ (1−cos(u,c2))); c3 points elsewhere (kept — a
    // top-2 prune by cosine alone would keep c1,c2 and drop c3)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f)),
      (2L, Array(0.98f, 0.20f)),
      (3L, Array(0.70f, -0.71f)))
      .toDF("vec_id", "embedding")
    val wide = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val got = NswGraph.robustPrune(wide, emb, "vec_id", "embedding", deg = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (0L, 3L)))
    // and with a loose α (α→∞ never occludes) the plain top-2 comes back
    val loose = NswGraph.robustPrune(wide, emb, "vec_id", "embedding",
        deg = 2, alphaNum = 1000000, alphaDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((0L, 1L), (0L, 2L)))
  }

  test("upsert with an empty batch is the identity on the base graph") {
    import graft.operators.NswGraph
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val base = NswGraph.buildRefined(emb, "vec_id", "embedding", 64,
      bands = 8, rbits = 4, seed = 11L, cap = 64,
      kInternal = 12, rounds = 1, deg = 6).localCheckpoint()
    val empty = emb.where(org.apache.spark.sql.functions.lit(false))
    val out = NswGraph.upsert(emb, empty, base, "vec_id", "embedding", 64,
      bands = 8, rbits = 4, seed = 11L, cap = 64, kInternal = 12, deg = 6)
    assert(out.exceptAll(base).count() == 0)
    assert(base.exceptAll(out).count() == 0)
  }

  test("jaro_winkler kernel pins the DuckDB-verified reference values") {
    import graft.functions.StringSimExprs
    def jw(a: String, b: String): Double = StringSimExprs.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // classic published pairs, values cross-checked against DuckDB's
    // jaro_winkler_similarity before adoption
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("duane", "dwayne") - 0.84) < 1e-12)
    // boost threshold: jaro <= 0.7 gets NO prefix bonus despite prefix 2
    assert(math.abs(jw("abcdef", "abzzzz") - 0.5555555555555555) < 1e-12)
    // DuckDB's empty-string convention (0, not the textbook 1)
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    // identity and disjoint
    assert(jw("abc", "abc") == 1.0)
    assert(jw("abc", "xyz") == 0.0)
    // adjacent transposition outside the window of 1-char strings
    assert(jw("ab", "ba") == 0.0)
    // non-BMP codepoints count as ONE symbol (codepoint iteration, the
    // DuckDB/RapidFuzz convention) — under UTF-16 code units "😀" is a
    // surrogate pair and these would score differently:
    // identical 3-symbol strings containing an emoji
    assert(jw("a😀b", "a😀b") == 1.0)
    // single-symbol strings, different emoji → no match, not per-half
    // surrogate matches (both share the high surrogate D83D)
    assert(jw("😀", "😁") == 0.0)
    // jaro of 2-symbol strings sharing one symbol = (1/2+1/2+1)/3 = 2/3;
    // code-unit math would see lengths 3, window 0, plus a spurious
    // shared-high-surrogate match between the two emoji
    assert(math.abs(jw("a😀", "a😁") - (2.0 / 3)) < 1e-12)
    assert(math.abs(jw("😀a", "😁a") - (2.0 / 3)) < 1e-12)
  }

  test("NnMatch.nearest1d distance equals the brute-force quadratic minimum") {
    import org.apache.spark.sql.functions._
    import graft.operators.NnMatch
    val o = Tables.orders(spark, TestSpark.sfDir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100, 0).cast("long").as("x"),
      when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
        .as("treated"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val viaWindow = NnMatch.nearest1d(o, "x", "treated", "k", "y")
      .select(col("k"), col("dist"))
    val t = o.where(col("treated") === 1).select(col("k"), col("x"))
    val c = o.where(col("treated") === 0).select(col("x").as("cx"))
    val brute = t.crossJoin(c)
      .groupBy("k").agg(min(abs(col("x") - col("cx"))).as("bdist"))
    val joined = viaWindow.join(brute, Seq("k"), "full_outer")
    // every treated row matched, and the window's pick IS the minimum
    assert(joined.where(col("dist").isNull || col("bdist").isNull
      || col("dist") =!= col("bdist")).count() == 0)
    assert(viaWindow.count() == t.count())
  }
}
