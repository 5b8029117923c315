package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GlobalRank, PrefixSum}

/** The bit-identity claims behind round 13's window migrations, pinned
  * mechanically: for ANY data and ANY partition count, the two-pass
  * PrefixSum zip equals the partition-less window form (inclusive and
  * exclusive cumsum + row number), and GlobalRank.zipWithNtile equals
  * `ntile(n) OVER (ORDER BY ...)` — including the N % n ≠ 0 and N < n
  * bucket-boundary cases where the (rank·n) div N rule would diverge.
  * The data is seeded pseudo-random with DUPLICATE sort values (the
  * unique-key tie-break carries the total order) and negative values
  * (the SPRT walk's signed steps).
  */
class PrefixSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def data(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    // duplicate-heavy sort key (x in 0..9), signed values
    (0 until n).map(i => (i.toLong, rnd.nextInt(10).toLong,
      (rnd.nextInt(2001) - 1000).toLong))
      .toDF("id", "x", "v")
  }

  test("PrefixSum.cumsum ≡ partition-less window (inclusive + exclusive + row number), any partition count") {
    for (n <- Seq(0, 1, 7, 500); parts <- Seq(1, 3, 32)) {
      val df = data(n, seed = 42L + n)
      val ord = Seq(col("x"), col("id"))
      val w = Window.orderBy("x", "id")
      val expected = df.select(col("id"),
          sum("v").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("inc"),
          coalesce(sum("v").over(w.rowsBetween(Window.unboundedPreceding,
            -1)), lit(0L)).as("exc"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val inc = PrefixSum.cumsum(df, ord, "v", inclusive = true,
        sumName = "inc", rnName = Some("rn"), numPartitions = parts)
      val exc = PrefixSum.cumsum(df, ord, "v", inclusive = false,
        sumName = "exc", numPartitions = parts)
      val got = inc.select("id", "inc", "rn")
        .join(exc.select("id", "exc"), Seq("id"))
        .select(col("id"), col("inc"), col("exc"), col("rn"))
        .orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq === expected.toSeq, s"n=$n parts=$parts")
      spark.catalog.clearCache()
    }
  }

  test("GlobalRank.zipWithNtile ≡ ntile window — N % n ≠ 0, N < n, descending orders") {
    for ((n, tiles) <- Seq((10, 3), (7, 3), (8, 5), (4, 10), (500, 7), (1, 1));
         parts <- Seq(1, 32)) {
      val df = data(n, seed = 7L * n + tiles)
      val w = Window.orderBy(col("v").desc, col("id"))
      val expected = df.select(col("id"),
          ntile(tiles).over(w).cast("long").as("t"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val got = GlobalRank.zipWithNtile(df,
          Seq(col("v").desc, col("id")), tiles, parts, "t")
        .select("id", "t")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === expected.toSeq, s"n=$n tiles=$tiles parts=$parts")
      spark.catalog.clearCache()
    }
  }

  test("PrefixSum requires a LongType value column") {
    val df = Seq((1L, 1.5)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      PrefixSum.cumsum(df, Seq(col("id")), "v", inclusive = true, "s"))
    assert(e.getMessage.contains("LongType"))
  }

  test("cumsumN: k walks over one order ≡ k windows, ascending and descending") {
    // the AUC/ROC shape (round 14): cumulative TP and FP ride one shuffle
    for (inclusive <- Seq(true, false); desc <- Seq(false, true)) {
      val df = data(300, seed = 99L).withColumn("u", (col("v") * 3 + 7))
      val o = if (desc) col("x").desc else col("x")
      val w0 = if (desc) Window.orderBy(col("x").desc, col("id"))
               else Window.orderBy(col("x"), col("id"))
      val w = if (inclusive)
        w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else w0.rowsBetween(Window.unboundedPreceding, -1)
      val expected = df.select(col("id"),
          coalesce(sum("v").over(w), lit(0L)).as("cv"),
          coalesce(sum("u").over(w), lit(0L)).as("cu"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val got = PrefixSum.cumsumN(df, Seq(o, col("id")),
          Seq("v" -> "cv", "u" -> "cu"), inclusive = inclusive)
        .select("id", "cv", "cu").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === expected.toSeq, s"inclusive=$inclusive desc=$desc")
      spark.catalog.clearCache()
    }
  }

  test("the sorted intermediate is released once the emit job completes") {
    // ADVICE r13: a nested zip chain must not hold every level's persisted
    // intermediate until the runner's clearCache — each level frees as the
    // downstream action sweeps through it (listener is async: spin briefly)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = data(200, seed = 11L)
    PrefixSum.cumsum(df, Seq(col("x"), col("id")), "v",
      inclusive = true, sumName = "c").collect()
    GlobalRank.zipWithRank(df, Seq(col("x"), col("id")), idName = "r")
      .collect()
    def leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.currentTimeMillis() + 10000
    while (leftover.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(leftover.isEmpty,
      "sorted intermediates still persisted after their emit jobs")
  }

  test("two zips over one sorted plan keep it cached until both emit jobs end") {
    // inc and exc over the same input, order and fan-out persist ONE cache
    // entry; releasing it when the first emit job ends let the other side's
    // still-running stage lose its blocks ("Block rdd_… does not exist")
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    import org.apache.spark.storage.StorageLevel
    import graft.operators.ScaleZip
    spark.catalog.clearCache()
    ScaleZip.sweepPending(spark)
    val df = data(200, seed = 13L)
    val ord = Seq(col("x"), col("id"))
    val inc = PrefixSum.cumsum(df, ord, "v", inclusive = true,
      sumName = "inc", numPartitions = 3)
    val exc = PrefixSum.cumsum(df, ord, "v", inclusive = false,
      sumName = "exc", numPartitions = 3)
    val shared = df.repartitionByRange(3, ord: _*).sortWithinPartitions(ord: _*)
    assert(shared.storageLevel != StorageLevel.NONE)
    assert(ScaleZip.pendingCount(spark) == 2)
    // registered after the zips' release listener on the same listener
    // queue, so once it sees a job end the release listener has handled it
    val jobEnds = new AtomicInteger()
    val probe = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobEnds.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(probe)
    def actionAndDrain(df: org.apache.spark.sql.DataFrame): Unit = {
      val seen = jobEnds.get
      df.collect()
      val deadline = System.currentTimeMillis() + 10000
      while (jobEnds.get == seen && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(jobEnds.get > seen, "listener bus did not deliver the job end")
    }
    try {
      actionAndDrain(inc)
      assert(ScaleZip.pendingCount(spark) == 1)
      assert(shared.storageLevel != StorageLevel.NONE,
        "shared sorted plan released while the other zip still reads it")
      actionAndDrain(exc)
      assert(ScaleZip.pendingCount(spark) == 0)
      assert(shared.storageLevel == StorageLevel.NONE,
        "shared sorted plan not released after the last emit job")
    } finally {
      spark.sparkContext.removeSparkListener(probe)
      spark.catalog.clearCache()
    }
  }

  test("default fan-out derives from the session, not a literal") {
    // verdict r13 #2: a literal partition count bakes a cluster size into
    // the plan; the default must track spark.sql.shuffle.partitions. The
    // conf alone decides (r14 ADVICE): probing the input's own width via
    // df.rdd would force AQE to materialize every upstream shuffle stage
    // as real jobs, doubling upstream work for non-persisted inputs.
    val df = data(50, seed = 5L)
    val conf = spark.sessionState.conf.numShufflePartitions
    val out = PrefixSum.cumsum(df, Seq(col("x"), col("id")), "v",
      inclusive = true, sumName = "c")
    assert(out.rdd.getNumPartitions === conf)
    val ranked = GlobalRank.zipWithRank(df.repartition(2),
      Seq(col("x"), col("id")), idName = "r")
    assert(ranked.rdd.getNumPartitions === conf)
    spark.catalog.clearCache()
    graft.operators.ScaleZip.sweepPending(spark)
  }

  test("cumExtremum ≡ partition-less min/max window (inclusive + exclusive), any partition count") {
    // the skyline/dominance shape (round 15): "best value any strictly
    // earlier row achieves" — exclusive prefix extremum, NULL on the first
    // row exactly like the window's empty frame
    for (n <- Seq(0, 1, 7, 500); parts <- Seq(1, 3, 32);
         isMax <- Seq(false, true)) {
      val df = data(n, seed = 300L + n)
      val ord = Seq(col("x"), col("id"))
      val w = Window.orderBy("x", "id")
      val f: String => org.apache.spark.sql.Column =
        if (isMax) max(_) else min(_)
      val expected = df.select(col("id"),
          f("v").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("inc"),
          f("v").over(w.rowsBetween(Window.unboundedPreceding, -1))
            .as("exc"))
        .orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))
      val inc = PrefixSum.cumExtremum(df, ord, "v", isMax = isMax,
        inclusive = true, outName = "inc", numPartitions = parts)
      val exc = PrefixSum.cumExtremum(df, ord, "v", isMax = isMax,
        inclusive = false, outName = "exc", numPartitions = parts)
      val got = inc.select("id", "inc")
        .join(exc.select("id", "exc"), Seq("id"))
        .orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))
      assert(got.toSeq === expected.toSeq, s"n=$n parts=$parts isMax=$isMax")
      spark.catalog.clearCache()
    }
    graft.operators.ScaleZip.sweepPending(spark)
  }

  test("drawdown carry decomposition: waved cumsum→cumExtremum with a 2-long carry ≡ the whole-ledger walk, any split") {
    // q489's exactness argument, pinned mechanically: balance is a prefix
    // SUM and peak a prefix MAX of the balance, both associative, so a
    // stream can carry exactly TWO LONGS between waves — the previous
    // wave's end balance (offsets the next wave's local cumsum) and end
    // peak (seeds the next wave's max; Long.MinValue when no history, so
    // an all-negative prefix stays correct). For seeded signed ledgers and
    // EVERY split class (empty first wave, empty second wave, interior
    // cuts), the waved recomposition must equal the whole-ledger zips row
    // for row.
    for (n <- Seq(1, 7, 200); cut <- Seq(0, 1, n / 2, n)) {
      val df = data(n, seed = 500L + n).select(col("id"), col("v"))
      val ord = Seq(col("id"))
      val whole = {
        val b = PrefixSum.cumsum(df, ord, "v", inclusive = true,
          sumName = "balance")
        PrefixSum.cumExtremum(b, ord, "balance", isMax = true,
            inclusive = true, outName = "peak")
          .select("id", "balance", "peak")
          .orderBy("id").collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      val waved = {
        var pb = 0L
        var pp = Long.MinValue
        Seq(df.where(col("id") < cut.toLong),
            df.where(col("id") >= cut.toLong)).flatMap { wave =>
          val b = PrefixSum.cumsum(wave, ord, "v", inclusive = true,
              sumName = "lb")
            .select(col("id"), (col("lb") + pb).as("balance"))
          val rows = PrefixSum.cumExtremum(b, ord, "balance", isMax = true,
              inclusive = true, outName = "cmx")
            .select(col("id"), col("balance"),
              greatest(col("cmx"), lit(pp)).as("peak"))
            .orderBy("id").collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getLong(2)))
          if (rows.nonEmpty) { pb = rows.last._2; pp = rows.last._3 }
          rows
        }
      }
      assert(waved === whole.toSeq, s"n=$n cut=$cut")
      spark.catalog.clearCache()
    }
    graft.operators.ScaleZip.sweepPending(spark)
  }

  test("release listener does not accrete: actioned zips drain, un-actioned zips sweep") {
    import graft.operators.ScaleZip
    // r14 verdict #3 / ADVICE: the one-shot-listener design leaked a
    // registered listener per zip that was built but never actioned. The
    // shared-listener design keeps the SparkContext's listener population
    // constant; what could still accrete is the pending release map —
    // assert it drains after (a) a normal emit and (b) the clearCache
    // sweep for a built-but-never-actioned zip.
    spark.catalog.clearCache()
    ScaleZip.sweepPending(spark)
    assert(ScaleZip.pendingCount(spark) === 0)
    // (a) a normal emit: the entry drains when the emit job completes
    val df = data(100, seed = 21L)
    PrefixSum.cumsum(df, Seq(col("x"), col("id")), "v",
      inclusive = true, sumName = "c").collect()
    val deadline = System.currentTimeMillis() + 10000
    while (ScaleZip.pendingCount(spark) > 0
        && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(ScaleZip.pendingCount(spark) === 0,
      "pending release entry survived its emit job")
    // (b) built but never actioned: the entry stays pending (by design —
    // no job ever contains the emit RDD) until the runner's clearCache
    // lifecycle sweeps it
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GlobalRank.zipWithRank(df, Seq(col("x"), col("id")), idName = "r")
    assert(ScaleZip.pendingCount(spark) === 1,
      "a built-but-never-actioned zip should hold exactly its own entry")
    ScaleZip.sweepPending(spark)
    assert(ScaleZip.pendingCount(spark) === 0,
      "sweepPending left entries behind")
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.isEmpty,
      "sweepPending left the un-actioned zip's sorted intermediate persisted")
    spark.catalog.clearCache()
  }
}
