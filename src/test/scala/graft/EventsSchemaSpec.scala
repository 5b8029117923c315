package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The `events` fixture has shipped with two physical types for `ts` across
  * driver testdata generations: raw epoch-nanos (TIMESTAMP(NANOS), which the
  * legacy flag surfaces as a plain long) and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ). `Tables.events` must
  * normalize BOTH to the same µs-precision session-UTC TimestampType so every
  * event-time query is generation-agnostic. This suite synthesizes both
  * generations for the same logical rows and asserts identical results.
  */
class EventsSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // micros chosen so the ns→µs truncation in the nanos generation is exact
  private val micros = Seq(0L, 1L, 1699999999123456L, 1700000001987654L)

  private def writeGen(dir: String, tsCol: org.apache.spark.sql.Column): Unit =
    micros.zipWithIndex
      .toDF("us", "i")
      .select(
        col("i").cast(LongType).as("event_id"),
        tsCol.as("ts"),
        (col("i") % 2).cast(LongType).as("user_id"),
        lit("view").as("event_type"),
        lit(1.5).as("value"),
        lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)

  test("nanos-as-long and micros-NTZ generations normalize identically") {
    val base = java.nio.file.Files.createTempDirectory("events-gen").toString
    // generation A: ts as raw epoch-nanos int64 (what the legacy nanos flag
    // yields from a TIMESTAMP(NANOS) column — LongType at the scan)
    writeGen(s"$base/genA", (col("us") * 1000L).cast(LongType))
    // generation B: ts as TIMESTAMP_NTZ micros (the current fixture schema)
    writeGen(s"$base/genB", timestamp_micros(col("us")).cast(TimestampNTZType))

    def load(gen: String) = {
      val df = Tables.events(spark, s"$base/$gen".stripSuffix("/"))
      assert(df.schema("ts").dataType === TimestampType, s"$gen ts type")
      df.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy("event_id").collect().toSeq
    }
    // Tables.events reads "$d/events.parquet"; point d at a dir whose
    // events.parquet is each generation
    val genA = java.nio.file.Paths.get(base, "A")
    val genB = java.nio.file.Paths.get(base, "B")
    java.nio.file.Files.createDirectories(genA)
    java.nio.file.Files.createDirectories(genB)
    def link(src: String, tgt: java.nio.file.Path): Unit = {
      val t = tgt.resolve("events.parquet")
      java.nio.file.Files.move(java.nio.file.Paths.get(base, src), t)
    }
    link("genA", genA)
    link("genB", genB)

    val a = load("A")
    val b = load("B")
    assert(a === b)
    assert(a.map(_.getLong(1)) === micros,
      "normalized micros must equal the authored instants on both generations")
  }

  test("streaming reader matches the batch reader on the NTZ generation") {
    // the live fixture dir is the micros-NTZ generation; prove stream ≡ batch
    val batch = Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    Scratch.run(spark, "graft_events_stream_") { out =>
      streaming.Drain.toParquet(
        streaming.EventStreams.readStream(spark, TestSpark.sfDir)
          .select(col("event_id"), unix_micros(col("ts")).as("us")),
        s"$out/data", s"$out/ckpt")
      val streamed = spark.read.parquet(s"$out/data")
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    }
  }
}
