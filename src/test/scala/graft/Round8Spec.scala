package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit guards for the round-7 additions that aren't already covered by
  * NswGraphSpec/NativeAsofSpec/StreamingSpec: the Viterbi DP, the Holt
  * recurrence's pinned division semantics, the PowerIteration zero-norm
  * bail-out, and the OrderedEwma negative-value correctness the advisor
  * fix bought.
  */
class Round8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("viterbiSegValue: hand-computed DP with vocab and char fallback") {
    import graft.functions.TextHashExprs.viterbiSegValue
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = new java.util.HashMap[String, java.lang.Long]
    vocab.put("ab", 5L)
    vocab.put("abc", 4L)
    vocab.put("cd", 7L)
    // "abcd": candidates — a|b|c|d (4×1, v=4·64−4=252); ab|cd (5+7=12,
    // v=12·64−2=766); abc|d (4+1=5, v=5·64−2=318); ab|c|d (5+1+1, v=445).
    // Best = ab|cd.
    assert(viterbiSegValue(UTF8String.fromString("abcd"), vocab) == 12 * 64 - 2)
    // no vocab hits → all single chars, score = len, pieces = len
    assert(viterbiSegValue(UTF8String.fromString("xyz"), vocab) == 3 * 64 - 3)
    // tie on score prefers fewer pieces: "ab" via vocab (5, 1 piece)
    // beats a|b (2, 2 pieces) on score alone here; check the packing:
    assert(viterbiSegValue(UTF8String.fromString("ab"), vocab) == 5 * 64 - 1)
  }

  test("Holt recurrence: truncating halving matches a literal fold") {
    // l_t = (y + l + b) / 2 truncating; negative trend exercises the
    // pinned division semantics (DuckDB // truncates for integers)
    val ys = Seq(100L, 10L, 10L, 200L)
    var l = 0L; var b = 0L; var init = false
    val got = ys.map { y =>
      if (!init) { init = true; l = y; b = 0L }
      else { val ln = (y + (l + b)) / 2; b = ((ln - l) + b) / 2; l = ln }
      (l, b)
    }
    // by hand: (100,0) → l=(10+100)/2=55, b=(−45+0)/2=−22 → l=(10+33)/2=21,
    // b=(−34−22)/2=−28 → l=(200−7)/2=96, b=(75−28)/2=23
    assert(got == Seq((100L, 0L), (55L, -22L), (21L, -28L), (96L, 23L)))
  }

  test("PowerIteration bails out on a zero image instead of NaN-poisoning") {
    import graft.operators.PowerIteration
    val zero = Array.fill(3)(Array.fill(3)(0.0))
    val (v, lam) = PowerIteration.topEigenvector(zero, 5)
    assert(!v.exists(_.isNaN) && !lam.isNaN)
    assert(v.toSeq == Seq(1.0, 0.0, 0.0) && lam == 0.0)
    // and a normal matrix still converges to the dominant axis
    val m = Array(Array(4.0, 0.0), Array(0.0, 1.0))
    val (v2, lam2) = PowerIteration.topEigenvector(m, 8)
    assert(math.abs(v2(0)) > 0.99 && math.abs(lam2 - 4.0) < 1e-6)
  }

  test("OrderedEwma survives negative series values (state-existence init)") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.streaming.{Drain, StatefulStreams}
    import spark.implicits._
    Scratch.run(spark, "graft_ewma_neg_", StatefulStreams.RocksDb) { root =>
      // two waves; the carried state goes NEGATIVE after wave A — the
      // old -1L sentinel would have silently restarted the recurrence
      Drain.twoWaves(s"$root/landing",
          Seq(("k", 1L, -100L), ("k", 2L, -50L)).toDF("g", "day", "y").coalesce(1),
          Seq(("k", 3L, -10L)).toDF("g", "day", "y").coalesce(1)) {
        val st = spark.readStream
          .schema(new StructType().add("g", StringType)
            .add("day", LongType).add("y", LongType))
          .parquet(s"$root/landing")
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new StatefulStreams.OrderedEwma,
            TimeMode.None(), OutputMode.Update())
        Drain.toParquet(st.toDF("g", "day", "y", "s"), s"$root/out",
          s"$root/ckpt")
      }
      val out = spark.read.parquet(s"$root/out")
        .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._1)
      // recurrence: s1=-100, s2=(-50-100)/2=-75, s3=(-10-75)/2=-42
      // (a sentinel bug would give s3 = -10, restarting at wave B)
      assert(out.toSeq == Seq((1L, -100L), (2L, -75L), (3L, -42L)))
    }
  }

  test("q261 zero-variance guard yields null instead of the ANSI 0/0 throw") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a constant 7-observation window: x ≡ 3 → sx = 21, sxx = 63 and
    // 7·sxx − sx² = 0; the guarded CASE must emit null without evaluating
    // the division arm (which would raise under ANSI and NaN-split the
    // engines otherwise)
    val df = Seq((21L, 35L, 63L, 180L, 105L)).toDF("sx", "sy", "sxx", "syy", "sxy")
    val out = df.select(
      when(lit(7) * col("sxx") - col("sx") * col("sx") === 0 ||
           lit(7) * col("syy") - col("sy") * col("sy") === 0,
        lit(null).cast("long"))
        .otherwise(
          round((lit(7) * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((lit(7) * col("sxx") - col("sx") * col("sx")).cast("double")
              * (lit(7) * col("syy") - col("sy") * col("sy")).cast("double"))
            * 1000000, 0).cast("long")).as("corr_e6")).head()
    assert(out.isNullAt(0))
  }
}
