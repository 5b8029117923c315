package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GlobalRank, PrefixSum}

/** The bit-identity claims behind round 13's window migrations, pinned
  * mechanically: for ANY data and ANY partition count, the two-pass
  * PrefixSum zip equals the partition-less window form (inclusive and
  * exclusive cumsum + row number), GlobalRank.zipWithRank equals
  * `row_number() − 1`, and GlobalRank.zipWithNtile equals
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
          row_number().over(w).cast("long").as("rn"),
          (row_number().over(w) - 1).cast("long").as("rank"))
        .orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
      val inc = PrefixSum.cumsum(df, ord, "v", inclusive = true,
        sumName = "inc", rnName = Some("rn"), numPartitions = parts)
      val exc = PrefixSum.cumsum(df, ord, "v", inclusive = false,
        sumName = "exc", numPartitions = parts)
      val rank = GlobalRank.zipWithRank(df, ord, parts, idName = "rank")
      val got = inc.select("id", "inc", "rn")
        .join(exc.select("id", "exc"), Seq("id"))
        .join(rank.select("id", "rank"), Seq("id"))
        .select(col("id"), col("inc"), col("exc"), col("rn"), col("rank"))
        .orderBy("id").collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
      assert(got.toSeq === expected.toSeq, s"n=$n parts=$parts")
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
    }
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
    }
  }

  test("zips persist nothing; the range exchange writes each input row once across census and emit") {
    // the census job and the emit read the same range exchange's shuffle
    // output: no cached intermediate at build or after the action, and the
    // exchange's map side runs once per zip
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val written = new AtomicLong
    val fenceIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fences = new AtomicInteger
    val meter = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          written.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten): Unit
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("graft.fence") != null)
          fenceIds.add(js.jobId): Unit
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (fenceIds.contains(je.jobId)) fences.incrementAndGet(): Unit
    }
    // the listener bus delivers in order: once a marked job's end arrives,
    // every earlier job's task ends have been counted
    def drain(): Unit = {
      val want = fences.get + 1
      sc.setLocalProperty("graft.fence", "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty("graft.fence", null)
      val deadline = System.currentTimeMillis() + 10000
      while (fences.get < want && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(fences.get >= want, "listener bus did not deliver the fence job")
    }
    val n = 300
    val df = data(n, seed = 17L)
    val ord = Seq(col("x"), col("id"))
    val zips: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "cumsum" -> (() => PrefixSum.cumsum(df, ord, "v", inclusive = true,
        sumName = "s")),
      "cumsumN" -> (() => PrefixSum.cumsumN(df, ord,
        Seq("v" -> "s", "id" -> "t"), inclusive = false, rnName = Some("rn"))),
      "cumExtremum" -> (() => PrefixSum.cumExtremum(df, ord, "v",
        isMax = true, inclusive = false, outName = "m")),
      "zipWithRank" -> (() => GlobalRank.zipWithRank(df, ord, idName = "r")),
      "zipWithNtile" -> (() => GlobalRank.zipWithNtile(df, ord, 7,
        outName = "t")))
    sc.addSparkListener(meter)
    try zips.foreach { case (name, mk) =>
      val cached = sc.getPersistentRDDs.keySet
      drain()
      val w0 = written.get
      val z = mk()
      assert(sc.getPersistentRDDs.keySet === cached, s"$name persisted at build")
      assert(z.collect().length === n)
      assert(sc.getPersistentRDDs.keySet === cached,
        s"$name persisted at collect")
      drain()
      assert(written.get - w0 === n.toLong,
        s"$name: range exchange shuffle records written")
    } finally sc.removeSparkListener(meter)
  }
}
