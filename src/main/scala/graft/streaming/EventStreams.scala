package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY §2.12 — additive
  * capability; the reference is batch-only, so streaming semantics are
  * defined here and proven by batch-parity tests, SURVEY §7.4.6).
  *
  * The same aggregation logic runs in both modes: [[tumblingCounts]] takes
  * whatever `events` relation it is given — a batch scan or a `readStream`
  * source — so parity is structural, not re-implemented.
  */
object EventStreams {

  /** events schema for the raw-nanos fixture generation (ts read as long via
    * the legacy flag; see graft.Tables.events for the two generations).
    */
  val rawSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", LongType) // ts read as raw nanos
    .add("user_id", LongType).add("event_type", StringType)
    .add("value", DoubleType).add("props", StringType)

  /** events schema for the micros-timestamp fixture generation (NTZ exactly
    * as the batch reader infers it; normalized by cast after the scan).
    */
  val microsSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampNTZType)
    .add("user_id", LongType).add("event_type", StringType)
    .add("value", DoubleType).add("props", StringType)

  /** Streaming source over the events parquet, normalized to µs-precision
    * `TimestampType` exactly like the batch path (graft.Tables.events). A
    * file-stream source needs a static schema up front, so probe the parquet
    * footer through the batch reader first and pick the matching generation
    * (TIMESTAMP(NANOS) read as long + ns→µs truncation, vs TIMESTAMP(MICROS)
    * read as NTZ + a micros-identity cast under the UTC session). The
    * file-stream source also wants a directory or glob, not a bare file —
    * hence the glob with an explicit basePath.
    */
  def readStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsRawNanos =
      graft.Tables.read(spark, sfDir, "events").schema("ts").dataType == LongType
    val src = spark.readStream
      .schema(if (tsIsRawNanos) rawSchema else microsSchema)
      .option("basePath", sfDir)
      .parquet(s"$sfDir/events.parque[t]")
    if (tsIsRawNanos) src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else src.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Tumbling 1-hour window counts per event type — mode-agnostic. The
    * double sum is rounded(6) in the OUTPUT so batch/streaming parity is an
    * exact comparison: raw double sums are accumulation-order dependent
    * (hash-agg partial merge vs state-store updates) and can differ in the
    * last ulp between the two modes.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Per-user session counts via flatMapGroupsWithState-free formulation is
    * not streamable; the streaming-native variant uses session_window —
    * gap-based session windows with a watermark.
    */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("session_start"),
        unix_timestamp(col("w.end")).as("session_end"),
        col("n_events"))

  /** Custom streaming state via flatMapGroupsWithState: a per-user running
    * profile (event count, value sum, max value) maintained across
    * micro-batches — the KeyValueGroupedDataset stateful surface of the
    * north-star brief. Emits the updated profile on every batch (Update mode).
    */
  final case class UserProfile(user_id: Long, n_events: Long, sum_value: Double,
                               max_value: Double)

  def statefulUserProfiles(events: DataFrame): org.apache.spark.sql.Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserProfile, UserProfile](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserProfile]) =>
          val prev = state.getOption.getOrElse(UserProfile(user, 0L, 0.0, Double.MinValue))
          val updated = rows.foldLeft(prev) { (acc, r) =>
            UserProfile(user, acc.n_events + 1, acc.sum_value + r._2,
              math.max(acc.max_value, r._2))
          }
          state.update(updated)
          Iterator(updated)
      }
  }

  /** Sliding 1-hour window, 30-minute slide — every event lands in two
    * windows (the streaming twin of batch q27). Mode-agnostic like
    * [[tumblingCounts]].
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n"))

  /** Stream-stream interval join: purchases matched to views by the same
    * user within the preceding hour. Both sides carry watermarks so the join
    * state is bounded — Spark evicts buffered view rows once the purchase
    * watermark passes `view.ts + 1 hour`, the state-cleanup contract a 100 TB
    * continuous pipeline depends on. Mode-agnostic: give it batch relations
    * and the identical plan runs as a batch interval join (the parity check).
    * `horizon` is the allowed-lateness watermark delay: the production
    * default (2 hours) bounds state tightly; q183 passes a horizon wider
    * than the whole bounded fixture so NO arrival order across micro-batches
    * can evict a row before its match arrives — that is what makes
    * stream ≡ batch an exact, hashable contract there (inner-join rows are
    * emitted as matches arrive; the watermark only governs eviction).
    */
  def viewPurchaseJoin(events: DataFrame, eventsAgain: DataFrame,
                       horizon: String = "2 hours"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", horizon)
    val purchases = eventsAgain.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", horizon)
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("v_ts")).as("v_us"))
  }

  /** Streaming deduplication: ONE row per (user_id, event_type) survives —
    * whichever arrives first in processing order, which with parallel
    * sources is NOT necessarily the earliest by event time (callers needing
    * event-time-first should min_by on ts downstream; the parity test
    * accordingly checks the key set, not the surviving event_id).
    * Uses `dropDuplicatesWithinWatermark` — plain `dropDuplicates`
    * without the event-time column in the key set would keep one state entry
    * per key FOREVER (watermark cleanup only applies when event time is part
    * of the dedup key), an unbounded-state leak on a continuous pipeline.
    * The within-watermark variant expires each key's entry once the
    * watermark passes it, bounding state to the 2-hour horizon.
    */
  def dedupFirstPerUserType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))
}
