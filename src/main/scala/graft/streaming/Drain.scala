package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one place a bounded stream starts and runs until it stops. Every
  * call checkpoints at the path the caller passes, triggers
  * `AvailableNow` — drain what has landed, in as many micro-batches as the
  * source's limits (`maxFilesPerTrigger`) cut, then stop — and blocks in
  * `awaitTermination`, which rethrows the stream's failure. `once = true`
  * triggers `Once` instead: one micro-batch, then stop. A stateful
  * operator in `TimeMode.ProcessingTime` keeps `shouldRunAnotherBatch`
  * true forever, so under `AvailableNow` its stream never stops (q268).
  */
object Drain {

  private def run(w: DataStreamWriter[Row], checkpoint: String,
                  once: Boolean = false): Unit =
    w.option("checkpointLocation", checkpoint)
      .trigger(if (once) Trigger.Once() else Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Write the stream's rows as parquet files under `path`. */
  def toParquet(df: DataFrame, path: String, checkpoint: String,
                once: Boolean = false): Unit =
    run(df.writeStream.outputMode("append").format("parquet")
      .option("path", path), checkpoint, once)

  /** Hand each micro-batch and its id to `f`. */
  def foreachBatch(df: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): Unit =
    run(df.writeStream.foreachBatch(f), checkpoint)

  /** Overwrite `outDir/batch=<id>` with `f(batch, id)` per micro-batch: a
    * batch the engine retries after a partial write replaces its own output
    * instead of appending twice (batch ids are checkpoint-scoped, so they
    * stay unique across stop/resume), and a read of `outDir` discovers the
    * `batch` partitions.
    */
  def toBatchDirs(df: DataFrame, outDir: String, checkpoint: String)(
      f: (DataFrame, Long) => DataFrame): Unit =
    foreachBatch(df, checkpoint) { (batch, id) =>
      f(batch, id).write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }

  /** The rows the memory sink collected in output mode `mode`. The sink's
    * temp view gets a unique name and is dropped before this returns; the
    * returned frame holds the rows for as long as it is referenced.
    */
  def toMemory(df: DataFrame, checkpoint: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val name = "graft_drain_" + java.util.UUID.randomUUID.toString.replace("-", "")
    run(df.writeStream.outputMode(mode).format("memory").queryName(name),
      checkpoint)
    val rows = spark.table(name)
    spark.catalog.dropTempView(name)
    rows
  }

  /** Stop/resume in two waves: land `waveA` under `landing` and `drain`,
    * then append `waveB` and `drain` again. The second drain resumes the
    * first one's checkpoint, so operator state and the source's progress
    * log must survive a full query restart. Each wave lands as it is
    * partitioned.
    */
  def twoWaves(landing: String, waveA: DataFrame, waveB: DataFrame)(
      drain: => Unit): Unit = {
    waveA.write.parquet(landing)
    drain
    waveB.write.mode("append").parquet(landing)
    drain
  }
}
