package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ChannelStats, Physics, Tensors}
import graft.operators._

/** The reference's full workflow, end-to-end, composed from the library —
  * its three CLI entry points re-expressed as lazy Catalyst plans
  * (SURVEY §3):
  *
  *   1. dataset build (create_train_valid_test_datasets.py main): synthesize
  *      a shower_events relation, derive direction features, salted-hash
  *      stratified split, rotation-augmentation union;
  *   2. train (train_classification.py main): fit per-channel + per-feature
  *      scalers on train only, persist them as a stats relation, apply by
  *      literal fold, score through the batched BatchScorer (CNN stand-in),
  *      fit the logistic head weights;
  *   3. evaluate (evaluate_classification.py main): reload persisted stats —
  *      never refit — apply to the held-out test split, score, and produce
  *      the survival-curve analysis (the reference's scientific output).
  *
  * Events are synthesized deterministically (salted-hash draws) because the
  * reference's S3 inputs are not available; every operator downstream is the
  * real engine path. Usage: runMain graft.PipelineDemo [nEvents]
  */
object PipelineDemo {

  /** The deposit pattern sin(0.7·i)·cos(1.3·j) shared by every synthetic
    * grid, cell (i, j) of the 16×16 station grid.
    */
  private val edepPattern: Array[Array[Double]] =
    Array.tabulate(16, 16)((i, j) => math.sin(i * 0.7) * math.cos(j * 1.3))

  /** Deterministic pseudo-random shower_events: label, physics features, and
    * a 16×16 energy-deposit grid, all pure expressions of event_id. Cell
    * (i, j) of the grid is `(u7 + pattern(i)(j) + 1) / 3` as float, with one
    * draw u7 per event.
    */
  def syntheticEvents(spark: SparkSession, n: Long): DataFrame = {
    def u(id: org.apache.spark.sql.Column, salt: Int) = // uniform-ish [0,1)
      (graft.functions.Hashes.mulHash(id, salt).cast("double") / 1000000007.0)
    val id = col("event_id")
    // `aggregate` over an empty array binds the draw to the accumulator once
    // per row, and its finish lambda builds the grid from the constant
    // pattern; a draw projected as a column below would be inlined back into
    // the per-cell lambda by CollapseProject.
    val edep = aggregate(typedLit(Array.empty[Double]), u(id, 7), (acc, _) => acc,
      u7 => transform(array(edepPattern.toSeq.map(r => array(r.toSeq.map(lit): _*)): _*), row =>
        transform(row, t => ((u7 + t + 1.0) / 3.0).cast("float"))))
    spark.range(0, n).toDF("event_id")
      .select(id,
        (u(id, 1) * 2).cast("int").as("label"),
        (lit(14.0) + u(id, 2) * 2).as("log_energy"),
        (u(id, 3) * 60).as("zenith"),
        (u(id, 4) * 360).as("azimuth"),
        (u(id, 5) * 200 - 100).as("core_x"),
        (u(id, 6) * 200 - 100).as("core_y"),
        edep.as("edep"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000L)
    val spark = GraftSession.local(8, appName = "graft-pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    val out = "/tmp/graft_pipeline_demo"

    // ---- entry point 0: archive ingest -----------------------------------
    // The reference's actual first step: download_dataset lands
    // {name}_matrices.npz / {name}_features.npz, np.load reads them
    // (create_train_valid_test_datasets.py:41-54,116-117). Here: land the two
    // reference-shaped archives (idempotent, like download_dataset), drain
    // them through the incremental converter, and positional-zip-join into
    // the unified §1.4 relation. The volume path below stays expression-
    // synthesized; this stage is the real ingest machinery end-to-end.
    import graft.sources.NpzIngest
    val landing = s"$out/landing"
    val nIngest = 2000
    if (!new java.io.File(s"$landing/demo_matrices.npz").exists()) {
      val K = 2654435761L
      val mat = Array.tabulate(nIngest * 256)(f => ((f * K) % 4096) / 16.0)
      val feat = Array.tabulate(nIngest * 12)(f =>
        if (f % 12 == 0) (f / 12 % 3).toDouble else ((f * K) % 4096) / 16.0)
      NpzIngest.writeNpz(spark, s"$landing/demo_matrices.npz",
        Seq(("matrices", "<f4", Seq(nIngest, 16, 16), mat)))
      NpzIngest.writeNpz(spark, s"$landing/demo_features.npz",
        Seq(("features", "<f8", Seq(nIngest, 12), feat)))
    }
    NpzIngest.streamToParquet(spark, landing, s"$out/ingested", s"$out/ingest_ckpt")
    val ingested = spark.read.parquet(s"$out/ingested")
    val unified = ingested.where(col("array") === "features")
      .select(col("idx").as("event_id"),
        element_at(col("values"), 1).cast("int").as("label"),
        col("values").as("features"))
      .join(ingested.where(col("array") === "matrices")
        .select(col("idx").as("event_id"), col("values").as("matrix")), "event_id")
    val nUnified = unified.count()

    // ---- entry point 1: dataset build ------------------------------------
    val events = syntheticEvents(spark, n)
      .withColumn("dir_x", Physics.dirX(col("zenith"), col("azimuth")))
      .withColumn("dir_y", Physics.dirY(col("zenith"), col("azimuth")))
      .withColumn("dir_z", Physics.dirZ(col("zenith")))
      .withColumn("split", Split.assignSplit(col("event_id"), 21))
    events.write.mode("overwrite").partitionBy("split").parquet(s"$out/events")
    // rotation augmentation: 3× sampled 90°-rotated copies of train only,
    // read back from the materialized split table. rot90 is one copy loop
    // that evaluates its grid once per row, so the projection-inlining trap
    // (see TextHashExprs scaladoc) no longer applies to it: the nested
    // `transform`/`element_at` form it replaced re-evaluated an inlined
    // synthesis grid per cell.
    val train = spark.read.parquet(s"$out/events").where(col("split") === "train")
    val augmented = (1 to 3).foldLeft(train) { (acc, k) =>
      acc.unionAll(
        Split.sample(train, col("event_id"), 21 + k, 30)
          .withColumn("core_x", Physics.rotateX(col("core_x"), k))
          .withColumn("core_y", Physics.rotateY(col("core_y"), k))
          .withColumn("azimuth", Physics.rotateAz(col("azimuth"), k))
          .withColumn("edep", Tensors.rot90(col("edep"), 16, k)))
    }
    augmented.drop("split").write.mode("overwrite").parquet(s"$out/train_augmented")

    // ---- entry point 2: fit + persist + score ----------------------------
    val trainAug = spark.read.parquet(s"$out/train_augmented")
    // per-channel grid stats via the no-explode aggregate (SURVEY §4 #1)
    val gridStats = trainAug
      .agg(ChannelStats.channelStats(flatten(col("edep")), 256).as("s"))
      .select(explode(col("s")).as("st")).select("st.mean", "st.stddev")
      .agg(avg("mean").as("mu"), avg("stddev").as("sigma")).head()
    val featStats = ScalerPipeline.fit(trainAug, Seq(
      "log_energy" -> ScalerPipeline.Standard,
      "zenith"     -> ScalerPipeline.Standard))
    ScalerPipeline.save(spark, featStats, s"$out/stats")

    // ---- entry point 3: evaluate (reload stats, never refit) -------------
    val test = spark.read.parquet(s"$out/events").where(col("split") === "test")
    val loaded = ScalerPipeline.load(spark, s"$out/stats")
    val scaled = ScalerPipeline.apply(test, loaded)
    import spark.implicits._
    val scored = Scorer.scoreKeyed(
      scaled.select(col("event_id"), col("label").cast("int"),
        array(col("log_energy_scaled"), col("zenith_scaled")).as("f"))
        .as[(Long, Int, Array[Double])],
      LinearSigmoidScorer(0.1, Array(0.8, -0.4)))
      .withColumnsRenamed(Map("key1" -> "event_id", "key2" -> "label", "score" -> "p"))
    val curve = SurvivalCurve.curve(
      scored.join(test.select("event_id", "zenith", "log_energy"), "event_id")
        .where(col("zenith") >= 0 && col("zenith") < 30 &&
               col("log_energy") >= 14 && col("log_energy") < 15),
      col("p"), col("label") === 0, 1000)
    val rows = curve.collect()
    val mid = rows(499)
    println(s"PIPELINE_DEMO ingested=$nUnified events=$n augmented=${trainAug.count()} " +
      s"test=${test.count()} gridMu=${"%.4f".format(gridStats.getDouble(0))} " +
      s"curve_rows=${rows.length} surv0_mid=${mid.getDouble(2)} surv1_mid=${mid.getDouble(3)} " +
      s"surv_final=${rows.last.getDouble(2)},${rows.last.getDouble(3)}")
    spark.stop()
  }
}
