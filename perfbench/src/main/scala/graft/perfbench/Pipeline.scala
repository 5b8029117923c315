package graft.perfbench

import org.apache.spark.sql.{Column, Observation}
import org.apache.spark.sql.functions._

import graft.PipelineDemo
import graft.functions.{ChannelStats, Physics, Tensors}
import graft.operators._
import graft.sources.NpzIngest

/** The reference workflow (the library's `PipelineDemo`) as five timed
  * steps per pass: ingest the landed NPZ archives, build the split event
  * table, augment the train split with rotated samples, fit and save the
  * scalers, and evaluate the survival curve on the test split. Set-up lands
  * the inputs: the shower events as parquet, synthesized by the workflow's
  * own `PipelineDemo.syntheticEvents` over an id window that the seed
  * shifts, and the NPZ archives.
  */
final class PipelineWorkload(r: Runner) extends Workload {
  import PipelineWorkload._
  private val spark = r.spark
  private val work = r.opts.work
  private val landing = s"$work/landing"

  /** Writes `n` synthetic events with ids from `from`. The synthesis is a
    * function of `event_id % Hashes.PreMod`, so a window start below PreMod
    * is enough to vary the events.
    */
  private def landEvents(path: String, from: Long, n: Long): Unit =
    PipelineDemo.syntheticEvents(spark, from + n).where(col("event_id") >= from)
      .write.mode("overwrite").parquet(path)

  def setup(): Unit = {
    r.phase("inputs") {
      val from = Math.floorMod(r.opts.seed, graft.functions.Hashes.PreMod)
      landEvents(r.opts.data, from, r.opts.events)
      landEvents(r.opts.warm, from, r.opts.warmEvents)
      val rnd = new scala.util.Random(r.opts.seed)
      val mat = Array.fill(Ingest * 256)(rnd.nextInt(4096) / 16.0)
      val feat = Array.tabulate(Ingest * 12)(f =>
        if (f % 12 == 0) rnd.nextInt(2).toDouble else rnd.nextInt(4096) / 16.0)
      NpzIngest.writeNpz(spark, s"$landing/events_matrices.npz",
        Seq(("matrices", "<f4", Seq(Ingest, 16, 16), mat)))
      NpzIngest.writeNpz(spark, s"$landing/events_features.npz",
        Seq(("features", "<f8", Seq(Ingest, 12), feat)))
    }
    // two passes over a small event set: the first JIT-compiles the row
    // loops, the second the per-step code that runs a few times per pass
    r.phase("warmup")(Seq(1, 2).foreach { k =>
      steps(r.opts.warm, s"$work/warm-$k", r.opts.warmEvents, 0, record = false)
    })
  }

  /** One call per pass: the user-facing operation is a whole workflow run.
    * Step times land in the trace and in the pass's `pipeline.<step>_s`
    * counters; as separate calls, five steps of very different sizes made a
    * latency median that jumped between steps from run to run.
    */
  def pass(p: Int): Unit =
    r.call(CallName, p)(steps(r.opts.data, s"$work/pass-$p", r.opts.events, p, record = true))

  /** Checks that need a job of their own, run outside the pass timer, and
    * the sink's footprint read from the files the pass left.
    */
  override def check(p: Int): Map[String, Double] = {
    val out = s"$work/pass-$p"
    try {
      val aug = spark.read.parquet(s"$out/train_augmented")
      val scaled = ScalerPipeline.apply(aug, ScalerPipeline.load(spark, s"$out/stats"))
      val m = scaled.agg(avg("log_energy_scaled"), stddev_pop("log_energy_scaled"),
        avg("zenith_scaled"), stddev_pop("zenith_scaled")).head()
      val (means, stds) = (Seq(m.getDouble(0), m.getDouble(2)), Seq(m.getDouble(1), m.getDouble(3)))
      if (means.exists(v => math.abs(v) > 1e-6) || stds.exists(v => math.abs(v - 1) > 1e-6))
        r.fail(CallName, p, s"scaled train features have means $means and stds $stds, want 0 and 1")
    } catch { case e: Exception => r.fail(CallName, p, s"scaled train check: ${e.getMessage}") }
    val files = walk(new java.io.File(out)).filter(_.getName.startsWith("part-"))
    val bytes = files.map(_.length).sum.toDouble
    Map("sink.bytes" -> bytes, "sink.files" -> files.size.toDouble,
      "sink.bytes_per_event" -> bytes / r.opts.events)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  private def steps(src: String, out: String, n: Long, p: Int, record: Boolean): Unit = {
    def step(name: String)(body: => Unit): Unit =
      if (record) r.addLayer(s"pipeline.${name}_s", r.trace.seconds(name, p)(body))
      else body

    step("ingest") {
      NpzIngest.streamToParquet(spark, landing, s"$out/ingested", s"$out/ingest_ckpt")
      val ingested = spark.read.parquet(s"$out/ingested")
      val joined = ingested.where(col("array") === "features").select(col("idx"))
        .join(ingested.where(col("array") === "matrices").select(col("idx")), "idx")
        .count()
      expect(joined == Ingest, s"ingest joined $joined rows, want $Ingest")
    }

    var trainRows = 0L
    step("build") {
      val obs = Observation()
      spark.read.parquet(src)
        .withColumn("dir_x", Physics.dirX(col("zenith"), col("azimuth")))
        .withColumn("dir_y", Physics.dirY(col("zenith"), col("azimuth")))
        .withColumn("dir_z", Physics.dirZ(col("zenith")))
        .withColumn("split", Split.assignSplit(col("event_id"), 21))
        .observe(obs, count(lit(1)).as("n"), splitCount("train"), splitCount("valid"),
          splitCount("test"))
        .write.mode("overwrite").partitionBy("split").parquet(s"$out/events")
      val c = obs.get
      val parts = Seq("train", "valid", "test").map(c(_).asInstanceOf[Long])
      trainRows = parts.head
      expect(c("n") == n && parts.sum == n, s"split counts $parts do not sum to $n")
    }

    step("augment") {
      val train = spark.read.parquet(s"$out/events").where(col("split") === "train")
      val obs = (1 to 3).map(_ => Observation())
      val total = Observation()
      (1 to 3).foldLeft(train) { (acc, k) =>
        acc.unionAll(
          Split.sample(train, col("event_id"), 21 + k, 30)
            .withColumn("core_x", Physics.rotateX(col("core_x"), k))
            .withColumn("core_y", Physics.rotateY(col("core_y"), k))
            .withColumn("azimuth", Physics.rotateAz(col("azimuth"), k))
            .withColumn("edep", Tensors.rot90(col("edep"), 16, k))
            .observe(obs(k - 1), count(lit(1)).as("n")))
      }.observe(total, count(lit(1)).as("n")).drop("split")
        .write.mode("overwrite").parquet(s"$out/train_augmented")
      val samples = obs.map(_.get("n").asInstanceOf[Long])
      val rows = total.get("n").asInstanceOf[Long]
      expect(rows == trainRows + samples.sum,
        s"augmented rows $rows != train $trainRows + samples $samples")
    }

    step("fit") {
      val aug = spark.read.parquet(s"$out/train_augmented")
      aug.agg(ChannelStats.channelStats(flatten(col("edep")), 256).as("s"))
        .select(explode(col("s")).as("st")).select("st.mean", "st.stddev")
        .agg(avg("mean"), avg("stddev")).head()
      val stats = ScalerPipeline.fit(aug, Seq(
        "log_energy" -> ScalerPipeline.Standard, "zenith" -> ScalerPipeline.Standard))
      ScalerPipeline.save(spark, stats, s"$out/stats")
    }

    step("evaluate") {
      import spark.implicits._
      val test = spark.read.parquet(s"$out/events").where(col("split") === "test")
      val scaled = ScalerPipeline.apply(test, ScalerPipeline.load(spark, s"$out/stats"))
      val scored = Scorer.scoreKeyed(
        scaled.select(col("event_id"), col("label").cast("int"),
          array(col("log_energy_scaled"), col("zenith_scaled")).as("f"))
          .as[(Long, Int, Array[Double])],
        LinearSigmoidScorer(0.1, Array(0.8, -0.4)))
        .withColumnsRenamed(Map("key1" -> "event_id", "key2" -> "label", "score" -> "p"))
      val rows = SurvivalCurve.curve(
        scored.join(test.select("event_id", "zenith", "log_energy"), "event_id")
          .where(col("zenith") >= 0 && col("zenith") < 30 &&
            col("log_energy") >= 14 && col("log_energy") < 15),
        col("p"), col("label") === 0, Bins).collect()
      expect(rows.length == Bins, s"curve has ${rows.length} rows, want $Bins")
      Seq(2, 3).foreach { i =>
        val f = rows.map(_.getDouble(i))
        expect(f.forall(v => v >= 0 && v <= 1), s"curve column $i leaves [0,1]")
        expect(f.sliding(2).forall(w => w(0) <= w(1)), s"curve column $i decreases")
        expect(f.last == 1.0, s"curve column $i ends at ${f.last}, not 1.0")
      }
    }
  }

  private def splitCount(s: String): Column =
    sum(when(col("split") === s, 1L).otherwise(0L)).as(s)

  private def expect(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalStateException(msg)
}

object PipelineWorkload {
  val CallName = "kascade_pipeline"
  val Ingest = 2000
  val Bins = 1000
}
