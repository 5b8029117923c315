package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints the metric JSON line with per-query
  * seconds, preceded by a separate detail line (per-rep times + shuffle
  * bytes/records from a SparkListener).
  *
  * Methodology: a warm-up pass (JIT + parquet footer cache + codegen cache)
  * runs the two cheapest queries first; each measured query is then fully
  * materialized through the `noop` sink — `count()` would let Catalyst prune
  * away projection work and under-measure scans.
  *
  * Output-format contract (r7 verdict #6): the driver's tail capture
  * truncated the old single fat line (`parsed: null`), so the LAST stdout
  * line is now a COMPACT metric object (seconds at 3 decimals, no reps),
  * with the rep arrays and shuffle telemetry on their own `detail` line
  * just above it; SPARK_GRAFT_BENCH_OUT gets the full JSON either way.
  * Shuffle bytes make load-vs-plan adjudication mechanical: a plan
  * regression moves bytes, box load moves only seconds.
  */
object Bench {

  /** Headline set: one per operator family (scan, agg, flagship window,
    * star join, augmentation union, math, events, sessionization, dedup
    * exact/minhash/simhash, knn, channel stats, mapPartitions scoring) —
    * plus, since round 7, the heavy round-5/6/7 machinery the wall-time
    * gate previously never saw: driver-round PCA, exact HITS, deterministic
    * LPA, the native as-of exec, the event-time-timer session stream, and
    * the scalable NSW build + walk. Round 8 adds q290 (incremental NSW
    * upsert — the maintenance path a refreshed corpus runs daily). Totals
    * are NOT comparable with BENCH_r06 and earlier — BASELINE.md carries
    * the re-baselined set.
    */
  val headline: Seq[String] = Seq(
    "q01_pruned_scan", "q03_group_count", "q07_survival_curve",
    "q11_star_join", "q13_rotation_union", "q19_spherical",
    "q26_tumbling_window", "q28_sessionize", "q30_exact_dedup",
    "q36_minhash_signature", "q38_simhash", "q40_knn_bruteforce",
    "q45_channel_stats", "q46_mappartitions_score",
    "q56_asof_join", "q57_rollup", "q61_dedup_components", "q81_pagerank",
    "q229_pca_power", "q230_hits", "q238_label_propagation",
    "q241_native_asof", "q254_timer_sessions", "q266_nsw_scalable",
    "q290_nsw_upsert")

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Release persisted intermediates after a measured run — both for cache
    * hygiene (no leaked blocks across queries) and timing honesty: a second
    * rep must not serve the first rep's persisted token relations.
    */
  private def clearCaches(spark: SparkSession): Unit =
    spark.catalog.clearCache()

  /** Cumulative shuffle counters fed by a SparkListener; task-end events
    * arrive asynchronously, so snapshots poll until two consecutive reads
    * agree (bounded at ~300 ms).
    */
  private final class ShuffleMeter {
    import java.util.concurrent.atomic.AtomicLong
    val read = new AtomicLong
    val write = new AtomicLong
    val records = new AtomicLong
    def listener: org.apache.spark.scheduler.SparkListener =
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            read.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
            write.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
            records.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
          }
        }
      }
    def snapshot(): (Long, Long, Long) = {
      var prev = (read.get, write.get, records.get)
      var tries = 0
      while (tries < 12) {
        Thread.sleep(25)
        val cur = (read.get, write.get, records.get)
        if (cur == prev) return cur
        prev = cur
        tries += 1
      }
      prev
    }
  }

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Host-contention probe (round 15): an all-core busy loop measured
    * against /proc/stat's steal ticks plus the min-to-max spread of
    * per-thread throughput. A shared box can read loadavg 0.1 from inside
    * the guest while the hypervisor still de-schedules it under load
    * (round 15 measured 12% steal + 28% spread at loadavg 0.11 —
    * BASELINE.md §round-15), and min-of-3 strips transient spikes but not
    * sustained steal — so the bench artifact itself must carry the host
    * state its wall-clock numbers were taken under. (steal_pct,
    * spread_pct); (-1, -1) where /proc/stat is unavailable. The probe runs
    * BEFORE the timed reps and costs ~1.5 s, untimed.
    */
  private def hostProbe(): (Double, Double) = {
    try {
      def stealTicks(): Long = {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
          .lift(7).getOrElse(0L)
        finally src.close()
      }
      val n = Runtime.getRuntime.availableProcessors()
      val durNs = 1_500_000_000L
      val iters = new Array[Long](n)
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      val threads = (0 until n).map { i =>
        val t = new Thread(() => {
          var x = 0L
          while (System.nanoTime() - t0 < durNs) x += 1
          iters(i) = x
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val elapsed = (System.nanoTime() - t0) / 1e9
      val dSteal = stealTicks() - s0
      // USER_HZ is 100 on every mainstream Linux; a wrong constant skews
      // the percentage, never the spread
      val stealPct = 100.0 * dSteal / (elapsed * 100.0 * n)
      val spreadPct = 100.0 * (iters.max - iters.min) / math.max(1L, iters.max)
      (r3(stealPct), r3(spreadPct))
    } catch { case _: Throwable => (-1.0, -1.0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hostState = hostProbe()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, appName = "graft-bench")
    // ERROR, not WARN: WindowExec emits per-query WARN lines that interleave
    // with stdout under sbt and have corrupted the driver's JSON parse
    // (BENCH_r01 "parsed": null). The metric line must be the only output.
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter.listener)

    val qs = SparkEntry.queries
    // JIT/IO warm-up: cheap scan + agg, not timed
    Seq("q01_pruned_scan", "q03_group_count").foreach { n =>
      try materialize(qs(n)(spark, sfDir)) catch { case _: Throwable => () }
    }
    // SPARK_GRAFT_BENCH_ALL=1: sweep every query (diagnostics), else headline;
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts either set by substring (ad-hoc
    // single-query re-measurement without a full run)
    val base0 =
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) qs.keys.toSeq.sorted
      else headline
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(pats) =>
        base0.filter(n => pats.split(",").exists(n.contains))
      case None => base0
    }
    // Fixture STAGING is not a quantity under test (verdict r13 #3): q290
    // reads its base NSW index from the tmpdir fixture, and a cold tmpdir
    // would bill one full staging build to the first upsert rep. Ensure +
    // materialize the fixture OUTSIDE the timed reps and report the cost as
    // its own detail field, so the timed entry isolates read+upsert+walk.
    val stageSecs: Map[String, Double] =
      if (names.contains("q290_nsw_upsert")) {
        val t0 = System.nanoTime()
        val ok =
          try { queries.SimilarityQueries.ensureNswBase(spark, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] q290 staging failed: ${e.getMessage}")
            false
          }
        clearCaches(spark)
        // staging failure is an explicit -1 marker, not a silent absence:
        // the timed reps would otherwise re-absorb the one-off staging
        // build (or re-fail), exactly the misattribution this isolation
        // exists to remove — the reps below skip a -1-staged query
        if (ok) Map("q290_nsw_upsert" -> (System.nanoTime() - t0) / 1e9)
        else Map("q290_nsw_upsert" -> -1.0)
      } else Map.empty
    // min-of-3 in headline mode: single-JVM runs carry ±1s of GC/scheduler
    // noise — r3 showed ±30% swings on sub-second queries with UNCHANGED
    // code under min-of-2, so one more rep buys a stable min. Sweep mode
    // stays single-pass (diagnostics over 60+ queries).
    val reps = if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) 1 else 3
    val results = names.filter(qs.contains).map { name =>
      if (stageSecs.get(name).contains(-1.0)) {
        // fixture staging failed — a rep here would either re-fail or bill
        // the staging build to itself; report the query as failed outright
        (name, -1.0, Seq.fill(reps)(-1.0), (0L, 0L, 0L))
      } else {
      val s0 = meter.snapshot()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { materialize(qs(name)(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        // a failed query reports -1, never a fast-looking elapsed time
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        clearCaches(spark)
        dt
      }
      val s1 = meter.snapshot()
      // bytes/records are plan-determined — report the per-rep average so
      // the number is comparable whatever `reps` is
      val sh = (math.max(0L, s1._1 - s0._1) / reps,
        math.max(0L, s1._2 - s0._2) / reps,
        math.max(0L, s1._3 - s0._3) / reps)
      (name, if (times.contains(-1.0)) -1.0 else times.min, times, sh)
      }
    }
    // BENCH_ALL also times the DataPipelineDemo funnel stage by stage: the
    // curation chain (clean→quality→dedup→…→mixture) has pinned PLANS but
    // had no pinned WALL-TIME, so a stage regression could hide until a
    // user's pipeline slowed. Stages materialize in funnel order, so each
    // timing is that stage's own work on top of its (persisted) upstream.
    val demoResults =
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) {
        try {
          val cleaned = DataPipelineDemo.clean(Tables.documents(spark, sfDir))
          val st = DataPipelineDemo.stages(cleaned, Tables.embeddings(spark, sfDir))
          Seq("blocked", "quality", "exact", "scrub", "near", "sem",
            "decon", "tilt", "packed", "mixed").map { stage =>
            val t0 = System.nanoTime()
            val ok =
              try { materialize(st(stage)); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] demo_$stage failed: ${e.getMessage}")
                false
              }
            val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
            (s"demo_$stage", dt, Seq(dt), (0L, 0L, 0L))
          }
        } catch {
          // a broken funnel must not take the whole sweep's JSON down with it
          case e: Throwable =>
            System.err.println(s"[bench] demo funnel failed: ${e.getMessage}")
            Seq(("demo_blocked", -1.0, Seq(-1.0), (0L, 0L, 0L)))
        } finally clearCaches(spark)
      } else Seq.empty
    val all = results ++ demoResults
    val qJson = all.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // all rep times per query: min stays the metric, but the spread is the
    // diagnostic — external load shows up as wide reps, a plan regression as
    // uniformly-slow tight reps (r4's 17.5s-vs-14.0s question was unanswerable
    // without this)
    val repJson = all.map { case (k, _, ts, _) =>
      "\"" + k + "\":[" + ts.map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-query shuffle telemetry (bytes read, bytes written, records
    // written per rep) — the load-vs-plan adjudication channel
    val shJson = all.map { case (k, _, _, (rd, wr, rec)) =>
      "\"" + k + "\":[" + rd + "," + wr + "," + rec + "]"
    }.mkString("{", ",", "}")
    val total = r3(all.collect { case (_, v, _, _) if v >= 0 => v }.sum)
    val metricLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"sf":"$sfDir"}"""
    val stageJson = stageSecs.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // host = (steal_pct, spread_pct) from the pre-rep busy-loop probe —
    // the in-artifact form of tools/steal_probe.py, so a slow-looking
    // BENCH_r{N}.json carries its own contention evidence
    val hostJson =
      s"""{"steal_pct":${hostState._1},"spread_pct":${hostState._2}}"""
    val detailLine =
      s"""{"detail":"bench","reps":$repJson,"shuffle_rw_rec":$shJson,"stage_sec":$stageJson,"host":$hostJson}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"reps":$repJson,"shuffle_rw_rec":$shJson,"sf":"$sfDir"}"""
    // stop Spark BEFORE printing so no shutdown log line can interleave with
    // the metric line; also drop a file copy as a parse-proof side channel
    spark.stop()
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        full.getBytes("UTF-8"))
    }
    // Write straight to fd 1, not System.out: under `sbt -batch` the managed
    // run's System.out is routed through sbt's logger, which prefixes every
    // line with "[info] " — that prefix is what broke the driver's JSON parse
    // in round 1 (BENCH_r01 "parsed": null). FileDescriptor.out bypasses the
    // redirection so the metric line starts at column 0. Detail first, the
    // compact metric line LAST — the driver reads the final JSON line.
    val raw = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    raw.println(detailLine)
    raw.println(metricLine)
    raw.flush()
  }
}
