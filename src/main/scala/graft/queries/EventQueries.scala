package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.streaming.Drain

/** Event-time analytics over the `events` fixture (SURVEY §2.12): tumbling and
  * sliding windows, gap-based sessionization, and JSON extraction. These are
  * the batch-mode semantics; `graft.streaming.EventStreams` runs the identical
  * aggregations under Structured Streaming with a watermark, and the batch
  * results here are the parity oracle (SURVEY §7.4.6).
  */
object EventQueries {

  /** Shared by q442 (batch recurrence) and q451 (streaming twin): the
    * greedy TTL-throttle trace — streamed ≡ batch by the shared hash.
    */
  private val ttlThrottleSql: String =
    """WITH RECURSIVE d AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
      |r AS MATERIALIZED (SELECT user_id, day,
      |             CAST(row_number() OVER (PARTITION BY user_id
      |               ORDER BY day) AS BIGINT) AS rn
      |      FROM d),
      |rec(user_id, rn, day, kept, last_kept) AS (
      |  SELECT user_id, rn, day, CAST(1 AS BIGINT), day
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.user_id, r.rn, r.day,
      |         CAST(CASE WHEN r.day >= rec.last_kept + 7
      |              THEN 1 ELSE 0 END AS BIGINT),
      |         CASE WHEN r.day >= rec.last_kept + 7
      |              THEN r.day ELSE rec.last_kept END
      |  FROM r JOIN rec ON r.user_id = rec.user_id
      |                 AND r.rn = rec.rn + 1)
      |SELECT user_id, CAST(day AS BIGINT) AS day, kept
      |FROM rec ORDER BY user_id, day""".stripMargin

  /** Shared by q410 (batch recurrence) and q412 (streaming twin): Page's
    * CUSUM trace — streamed ≡ batch by the shared hash.
    */
  private val pageCusumSql: String =
    """WITH RECURSIVE d AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |r0 AS MATERIALIZED (SELECT event_type, day, x,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY day) AS BIGINT) AS rn
      |       FROM d),
      |ref AS MATERIALIZED (SELECT event_type,
      |          CAST(sum(x) AS BIGINT) // count(*) AS refx
      |        FROM r0 WHERE rn <= 15 GROUP BY event_type),
      |r AS MATERIALIZED (SELECT r0.event_type, r0.rn, r0.day, r0.x,
      |             CAST(ref.refx AS BIGINT) AS refx
      |      FROM r0 JOIN ref USING (event_type)),
      |rec(event_type, rn, day, x, refx, s) AS (
      |  SELECT event_type, rn, day, x, refx,
      |         greatest(CAST(0 AS BIGINT), x - refx - refx // 10)
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.event_type, r.rn, r.day, r.x, r.refx,
      |         greatest(CAST(0 AS BIGINT),
      |                  rec.s + r.x - r.refx - r.refx // 10)
      |  FROM r JOIN rec ON r.event_type = rec.event_type
      |                 AND r.rn = rec.rn + 1)
      |SELECT event_type, CAST(day AS BIGINT) AS day, x, refx,
      |       CAST(s AS BIGINT) AS s_cusum,
      |       CAST(CASE WHEN s > 3 * refx THEN 1 ELSE 0 END AS BIGINT)
      |         AS alarm
      |FROM rec ORDER BY event_type, day""".stripMargin

  /** The CUSUM input both q410 and q412 run the recurrence over: per
    * event type and UTC day the event count `x`, and `refx`, the truncated
    * mean of the first 15 days.
    */
  private def pageCusumInput(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val r0 = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("rn", row_number().over(w).cast("long"))
    val ref = r0.where(col("rn") <= 15).groupBy("event_type")
      .agg(expr("sum(x) div count(1)").as("refx"))
    r0.join(ref, "event_type")
      .select(col("event_type"), col("day"), col("x"), col("refx"))
  }

  /** Σ round(max(value, 0)·100): exact clamped cents, the quantity every
    * daily series below sums (clamping keeps floor and truncation equal).
    */
  private def clampedCents: Column =
    sum(round(greatest(col("value"), lit(0)) * 100, 0).cast("long"))

  /** DuckDB twin of [[clampedCents]]. */
  private val clampedCentsSql =
    "CAST(sum(CAST(round(greatest(value, 0) * 100, 0) AS BIGINT)) AS BIGINT)"

  /** The daily clamped-cents series: `keys` × UTC day → [[clampedCents]]
    * as `out` — the integer input of the forecasting, anomaly and bandit
    * queries.
    */
  private def dailyCents(events: DataFrame, out: String = "y",
                         keys: Seq[Column] = Seq(col("event_type"))): DataFrame =
    events
      .groupBy(keys :+ expr("unix_micros(ts) div 86400000000").as("day"): _*)
      .agg(clampedCents.as(out))

  /** DuckDB twin of [[dailyCents]] as CTE `name`; `perType = false` is
    * `keys = Nil`, a non-empty `where` filters `events` first.
    */
  private def dailyCentsSql(name: String = "d", out: String = "y",
                            perType: Boolean = true,
                            materialized: Boolean = false,
                            where: String = ""): String = {
    val mat = if (materialized) "MATERIALIZED " else ""
    val (key, groups) = if (perType) ("event_type, ", "1, 2") else ("", "1")
    val filter = if (where.isEmpty) "" else s" WHERE $where"
    s"""$name AS $mat(
       |  SELECT ${key}epoch_us(ts) // 86400000000 AS day,
       |         $clampedCentsSql AS $out
       |  FROM events$filter GROUP BY $groups)""".stripMargin
  }

  /** CTE `name`: the `from` series numbered per event_type in day order
    * (rn from 1) — the row index the recursive-CTE recurrences step on.
    */
  private def seriesRankSql(name: String = "r", from: String = "d"): String =
    s"""$name AS MATERIALIZED (SELECT event_type, day, y,
       |        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |      FROM $from)""".stripMargin

  /** Shared by q233 (batch recurrence) and q256 (streaming twin): the α=½
    * integer EWMA over the daily series, stepped by a recursive CTE.
    */
  private val ewmaSql: String =
    s"""WITH RECURSIVE ${dailyCentsSql(materialized = true)},
       |${seriesRankSql()},
       |rec(event_type, rn, day, y, s) AS (
       |  SELECT event_type, rn, day, y, y FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.event_type, r.rn, r.day, r.y, (r.y + rec.s) // 2
       |  FROM r JOIN rec ON r.event_type = rec.event_type
       |                 AND r.rn = rec.rn + 1)
       |SELECT event_type, CAST(day AS BIGINT) AS day, y AS y_cents,
       |       CAST(s AS BIGINT) AS ewma_cents
       |FROM rec ORDER BY event_type, day""".stripMargin

  /** Shared by q271 (trend trace) and q283 (backtest): the recursive CTE
    * `rec` stepping Holt's α=β=½ level/trend recurrence over the daily
    * series, truncating integer halving on both engines.
    */
  private val holtSql: String =
    s"""WITH RECURSIVE ${dailyCentsSql(materialized = true)},
       |${seriesRankSql()},
       |rec(event_type, rn, day, y, l, b) AS (
       |  SELECT event_type, rn, day, y, y, CAST(0 AS BIGINT)
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.event_type, r.rn, r.day, r.y,
       |         (r.y + (rec.l + rec.b)) // 2,
       |         (((r.y + (rec.l + rec.b)) // 2 - rec.l) + rec.b) // 2
       |  FROM r JOIN rec ON r.event_type = rec.event_type
       |                 AND r.rn = rec.rn + 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Tumbling 1-hour event-time window per type.
    QueryDef("q26_tumbling_window",
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // Sliding 1-hour window, 30-minute slide: each event lands in 2 windows.
    QueryDef("q27_sliding_window",
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 1800000000) * 1800 - k AS win_start,
        |         event_type
        |  FROM events, (SELECT unnest([0, 1800]) AS k))
        |SELECT win_start, event_type, count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .groupBy(unix_timestamp(col("w.start")).as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("win_start", "event_type")
    },

    // Gap-based sessionization (30-min inactivity): lag + cumulative boundary
    // count — the classic two-window formulation, fully deterministic via the
    // (ts, event_id) order.
    QueryDef("q28_sessionize",
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, count(DISTINCT session_id) AS n_sessions,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        // exact integer microseconds on both engines (unix_micros / epoch_us)
        .withColumn("new_session",
          when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(countDistinct("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // session_window in batch mode: Spark's native gap-session operator must
    // agree with the lag+cumsum formulation (q28). Session-boundary semantics:
    // a gap of exactly the window closes the session (hence >= in the oracle,
    // vs > in q28's convention).
    QueryDef("q55_session_window",
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
        |         ts
        |  FROM g),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |                min(epoch_us(ts)) AS start_us
        |         FROM s GROUP BY user_id, session_id)
        |SELECT user_id, start_us, n_events
        |FROM sess ORDER BY user_id, start_us""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    },

    // Sessionized funnel: conversion measured WITHIN sessions (30-min gap,
    // lag+cumsum assignment mirrored exactly in both engines) — a session
    // converts when its first view precedes its first purchase. Composes
    // sessionization, conditional mins, and ratio aggregation in one plan.
    QueryDef("q94_session_funnel",
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_type, ts_us,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END) AS tv,
        |         min(CASE WHEN event_type = 'purchase' THEN ts_us END) AS tp
        |  FROM s GROUP BY user_id, session_id)
        |SELECT count(*) AS sessions,
        |       CAST(count(CASE WHEN tv IS NOT NULL THEN 1 END) AS BIGINT) AS with_view,
        |       CAST(count(CASE WHEN tv < tp THEN 1 END) AS BIGINT) AS converted,
        |       round(count(CASE WHEN tv < tp THEN 1 END)
        |         / (1.0 * count(*)), 6) AS conversion
        |FROM sess""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("new_session",
          when(col("ts_us") - lag(col("ts_us"), 1).over(ord) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_session").over(cum))
      val sess = g.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "view", col("ts_us"))).as("tv"),
          min(when(col("event_type") === "purchase", col("ts_us"))).as("tp"))
      sess.agg(count(lit(1)).as("sessions"),
        count(when(col("tv").isNotNull, 1)).as("with_view"),
        count(when(col("tv") < col("tp"), 1)).as("converted"),
        round(count(when(col("tv") < col("tp"), 1))
          / (lit(1.0) * count(lit(1))), 6).as("conversion"))
    },

    // Funnel analysis: users whose FIRST view strictly precedes their first
    // click, which strictly precedes their first purchase — one conditional
    // min-aggregate per step, a single groupBy(user) pass; null step times
    // drop out of the < comparisons in both engines identically.
    QueryDef("q77_funnel",
      """WITH m AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_v,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_c,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_p
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |       CAST(count(CASE WHEN t_v IS NOT NULL THEN 1 END) AS BIGINT) AS step_view,
        |       CAST(count(CASE WHEN t_v < t_c THEN 1 END) AS BIGINT) AS step_click,
        |       CAST(count(CASE WHEN t_v < t_c AND t_c < t_p THEN 1 END) AS BIGINT)
        |         AS step_purchase
        |FROM m""".stripMargin) { (s, d) =>
      def firstOf(t: String) =
        min(when(col("event_type") === t, unix_micros(col("ts"))))
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(firstOf("view").as("t_v"), firstOf("click").as("t_c"),
          firstOf("purchase").as("t_p"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("t_v").isNotNull, 1)).as("step_view"),
          count(when(col("t_v") < col("t_c"), 1)).as("step_click"),
          count(when(col("t_v") < col("t_c") && col("t_c") < col("t_p"), 1))
            .as("step_purchase"))
    },

    // Cohort retention: users bucketed by first-activity week; counts of
    // distinct users active at each week offset from their cohort. The
    // cohort relation is one row per USER — linear in user cardinality, so
    // it must NOT be force-broadcast (billions of users at the 100 TB design
    // point would OOM the driver); a plain equi-join on user_id shuffles
    // both sides on the same key, and AQE may still choose broadcast when
    // the user count is actually small.
    QueryDef("q78_retention",
      """WITH w AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY user_id),
        |a AS (SELECT DISTINCT w.user_id, f.cohort, w.wk - f.cohort AS wk_offset
        |      FROM w JOIN f ON w.user_id = f.user_id)
        |SELECT cohort, wk_offset, count(*) AS n_users
        |FROM a GROUP BY cohort, wk_offset ORDER BY cohort, wk_offset""".stripMargin) { (s, d) =>
      val w = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      val f = w.groupBy("user_id").agg(min("wk").as("cohort"))
      w.join(f, "user_id")
        .select(col("user_id"), col("cohort"), (col("wk") - col("cohort")).as("wk_offset"))
        .distinct()
        .groupBy("cohort", "wk_offset").agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "wk_offset")
    },

    // Interval-overlap join: per-(user, day) activity spans [min ts, max ts]
    // against a derived set of 12-hour campaign windows (anchored at the
    // global min event time, so both engines build identical literals from
    // the data itself). Overlap predicate lo ≤ w_hi ∧ w_lo ≤ hi against the
    // broadcast O(windows) side — the interval generalization of q60's
    // point-in-band join.
    QueryDef("q83_interval_overlap",
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT min(epoch_us(ts)) AS m FROM events),
        |w AS (SELECT k AS w_id, m + k * 21600000000 AS w_lo,
        |             m + k * 21600000000 + 43200000000 AS w_hi
        |      FROM g, (SELECT unnest(range(0, 4)) AS k))
        |SELECT CAST(w_id AS BIGINT) AS w_id, count(*) AS n_spans,
        |       count(DISTINCT user_id) AS n_users
        |FROM iv JOIN w ON iv.lo <= w.w_hi AND w.w_lo <= iv.hi
        |GROUP BY w_id ORDER BY w_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val iv = ev.groupBy(col("user_id"), expr("us div 86400000000").as("day"))
        .agg(min("us").as("lo"), max("us").as("hi"))
      val g = ev.agg(min("us").as("m"))
      val w = g.select(explode(sequence(lit(0), lit(3))).as("k"), col("m"))
        .select(col("k").cast("long").as("w_id"),
          (col("m") + col("k") * 21600000000L).as("w_lo"),
          (col("m") + col("k") * 21600000000L + 43200000000L).as("w_hi"))
      iv.join(broadcast(w), col("lo") <= col("w_hi") && col("w_lo") <= col("hi"))
        .groupBy("w_id")
        .agg(count(lit(1)).as("n_spans"), countDistinct("user_id").as("n_users"))
        .orderBy("w_id")
    },

    // JSON extraction (events.props is a JSON string).
    QueryDef("q29_json_extract",
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Stream-stream interval join as a driver-visible query (the q161
    // AvailableNow-inside-the-query pattern applied to the LAST major
    // Structured Streaming primitive that was spec-only): purchases matched
    // to same-user views within the preceding hour, run as a REAL two-source
    // streaming join — events land as a 4-file parquet directory, both sides
    // re-read it as file streams with maxFilesPerTrigger=1, and matches flow
    // through the symmetric-hash join STATE STORE across micro-batches (a
    // view buffered in batch 1 must still match a purchase arriving in batch
    // 4). The horizon is wider than the fixture's 30-day span, so no arrival
    // order can evict a row before its match — which makes stream ≡ batch an
    // exact contract (`stream_eq_batch` compares per-user aggregates of the
    // streamed join against the identical-plan batch interval join in-plan;
    // any dropped/duplicated match flips it and the hash). Output: top-20
    // users by matched-pair count with exact integer-µs latency sums, FROM
    // THE STREAMED RESULT. Scale shape: state is bounded by the horizon (the
    // production default is 2 hours — StreamingSpec runs that posture); the
    // join itself shuffles both sides on user_id once.
    QueryDef("q183_stream_interval_join",
      """WITH v AS (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT p.user_id, p.p_us - v.v_us AS lat
        |      FROM p JOIN v ON p.user_id = v.user_id
        |       AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 3600000000)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(lat) AS BIGINT) AS lat_us, TRUE AS stream_eq_batch
        |FROM j GROUP BY user_id
        |ORDER BY n_pairs DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
      import graft.streaming.EventStreams
      // the result reads the memory sink + batch tables, so the landing dir
      // deletes at query exit
      val streamed = Scratch.run(s, "graft_ssjoin_q_") { root =>
        val ev = Tables.events(s, d)
          .where(col("event_type").isin("view", "purchase"))
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        ev.repartition(4).write.parquet(s"$root/landing")
        val schema = new org.apache.spark.sql.types.StructType()
          .add("event_id", org.apache.spark.sql.types.LongType)
          .add("ts", org.apache.spark.sql.types.TimestampType)
          .add("user_id", org.apache.spark.sql.types.LongType)
          .add("event_type", org.apache.spark.sql.types.StringType)
        def src() = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
        Drain.toMemory(EventStreams.viewPurchaseJoin(src(), src(), "60 days"),
          s"$root/ckpt", "append")
      }
      def perUser(j: org.apache.spark.sql.DataFrame) =
        j.groupBy("user_id").agg(count(lit(1)).as("n_pairs"),
          sum(col("p_us") - col("v_us")).as("lat_us"))
      val sAgg = perUser(streamed)
      val bEv = Tables.events(s, d)
      val bAgg = perUser(EventStreams.viewPurchaseJoin(bEv, bEv, "60 days"))
        .withColumnsRenamed(Map("n_pairs" -> "b_pairs", "lat_us" -> "b_lat"))
      val mism = sAgg.join(bAgg, Seq("user_id"), "full_outer")
        .where(!(col("n_pairs") <=> col("b_pairs"))
          || !(col("lat_us") <=> col("b_lat")))
        .agg(count(lit(1)).as("m"))
      sAgg.orderBy(col("n_pairs").desc, col("user_id")).limit(20)
        .crossJoin(broadcast(mism))
        .select(col("user_id"), col("n_pairs"), col("lat_us"),
          (col("m") === 0L).as("stream_eq_batch"))
        .orderBy(col("n_pairs").desc, col("user_id"))
    },

    // Behavioral sequence mining: the most common within-session event-type
    // trigrams — the "what do users actually do" census product analytics
    // ships, and the event-stream sibling of q196's token collocations.
    // Sessions come from q28's exact lag+cumsum assignment (30-min gap,
    // (ts, event_id) total order), trigrams from two lead() steps INSIDE
    // the (user, session) window — sequences never cross a session boundary
    // by construction, no self-joins, and every window is keyed by user so
    // nothing funnels through one partition. Census + top-10 with the
    // (count DESC, trigram) tie rule; integer counts end to end.
    QueryDef("q204_session_paths",
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, us,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |t AS (
        |  SELECT event_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id, sid
        |           ORDER BY us, event_id) AS e2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id, sid
        |           ORDER BY us, event_id) AS e3
        |  FROM s)
        |SELECT event_type || '>' || e2 || '>' || e3 AS trigram,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, trigram LIMIT 10""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      val g = ev.withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(wOrd) > 1800000000L, 1L)
          .otherwise(0L))
      val sids = g.withColumn("sid",
        sum("new_session").over(wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      val wSes = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
      sids
        .select(col("event_type"),
          lead(col("event_type"), 1).over(wSes).as("e2"),
          lead(col("event_type"), 2).over(wSes).as("e3"))
        .where(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(10)
    },

    // Time-series resample with gap fill — the "asfreq + fillna" step every
    // per-entity daily pipeline needs before model features: the event
    // stream becomes one row PER (user, calendar day), absent days 0-filled
    // and `last_active_day` forward-filled. The calendar derives from the
    // data's own min/max day (both engines build identical literals), the
    // per-user grid is a broadcast cross join against the tiny day relation,
    // and the forward fill uses max-of-conditional-day over the ordered
    // window — days are monotone, so running max ≡ last-non-null WITHOUT
    // the IGNORE NULLS dialect surface. Integer day arithmetic end to end.
    // Scale: grid size is users × days (rows the OUTPUT needs anyway);
    // windows are keyed per user.
    QueryDef("q208_gap_fill",
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |g AS (SELECT CAST(min(day) AS BIGINT) AS d0,
        |             CAST(max(day) AS BIGINT) AS d1 FROM e),
        |days AS (SELECT d0 + unnest(range(0, d1 - d0 + 1)) AS day FROM g),
        |u AS (SELECT DISTINCT user_id FROM e WHERE user_id < 10),
        |grid AS (SELECT u.user_id, days.day FROM u CROSS JOIN days),
        |c AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
        |      FROM e WHERE user_id < 10 GROUP BY 1, 2),
        |f AS (SELECT grid.user_id, grid.day, coalesce(c.n, 0) AS n_events
        |      FROM grid LEFT JOIN c USING (user_id, day))
        |SELECT user_id, day, n_events,
        |       max(CASE WHEN n_events > 0 THEN day END) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_active_day
        |FROM f ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val g = e.agg(min("day").as("d0"), max("day").as("d1"))
      val days = g.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val u = e.where(col("user_id") < 10).select("user_id").distinct()
      val c = e.where(col("user_id") < 10)
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      val f = u.crossJoin(broadcast(days))
        .join(c, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      f.withColumn("last_active_day",
          max(when(col("n_events") > 0, col("day"))).over(w))
        .orderBy("user_id", "day")
    },

    // Rolling 7-day distinct actives — WAU/DAU/stickiness, the engagement
    // triple every product dashboard reports, and a DISTINCT-over-sliding-
    // window: a plain window frame cannot deduplicate users across the 7
    // days, so the correct distributed shape is day-grain pre-dedup (the
    // (user, day) relation — the only corpus-sized pass), then a calendar×
    // activity range join whose fan-out is bounded at 7 rows per active
    // day, then count DISTINCT per window anchor. The tiny calendar side
    // broadcasts. Exact integers; stickiness = DAU/WAU in integer ppm.
    QueryDef("q210_rolling_wau",
      """WITH act AS (SELECT DISTINCT user_id,
        |               epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT CAST(min(day) AS BIGINT) AS d0,
        |             CAST(max(day) AS BIGINT) AS d1 FROM act),
        |days AS (SELECT d0 + unnest(range(0, d1 - d0 + 1)) AS d FROM g),
        |wau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM days JOIN act ON act.day BETWEEN d - 6 AND d
        |        GROUP BY d),
        |dau AS (SELECT day AS d, CAST(count(*) AS BIGINT) AS dau
        |        FROM act GROUP BY day)
        |SELECT wau.d AS day, wau.wau, coalesce(dau.dau, 0) AS dau,
        |       CAST(coalesce(dau.dau, 0) * 1000000 // wau.wau AS BIGINT)
        |         AS stickiness_ppm
        |FROM wau LEFT JOIN dau ON dau.d = wau.d
        |ORDER BY day""".stripMargin) { (s, d) =>
      val act = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .persist() // feeds the calendar bounds, the range join, and dau
      val g = act.agg(min("day").as("d0"), max("day").as("d1"))
      val days = g.select(explode(sequence(col("d0"), col("d1"))).as("d"))
      val wau = broadcast(days)
        .join(act, col("day").between(col("d") - 6, col("d")))
        .groupBy("d").agg(countDistinct("user_id").as("wau"))
      val dau = act.groupBy(col("day").as("dd"))
        .agg(count(lit(1)).as("dau"))
      wau.join(dau, col("d") === col("dd"), "left")
        .select(col("d").as("day"), col("wau"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          expr("coalesce(dau, 0) * 1000000 div wau").as("stickiness_ppm"))
        .orderBy("day")
    },

    // Sketch-based rolling WAU — q210's exact range join re-counts every
    // user up to 7×; the 100 TB posture builds ONE DataSketches HLL per
    // (day) — a single corpus pass — and answers every 7-day window by
    // UNIONING seven daily sketches (hll_union_agg), because HLL union is
    // lossless over sketches: cost per window is O(sketch bytes), not
    // O(actives). Sketch estimates aren't cross-engine replayable (q54's
    // rule), so the statable contract is the error bound: the estimate must
    // sit within 6% of the exact WAU computed alongside (lgConfigK=12 →
    // rse ≈ 1.6%, the bound is ~4σ). The oracle states the exact count and
    // TRUE — an out-of-bound sketch is a hash mismatch, not a silent pass.
    QueryDef("q211_wau_sketch",
      """WITH act AS (SELECT DISTINCT user_id,
        |               epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT CAST(min(day) AS BIGINT) AS d0,
        |             CAST(max(day) AS BIGINT) AS d1 FROM act),
        |days AS (SELECT d0 + unnest(range(0, d1 - d0 + 1)) AS d FROM g),
        |wau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_wau
        |        FROM days JOIN act ON act.day BETWEEN d - 6 AND d
        |        GROUP BY d)
        |SELECT d AS day, exact_wau, TRUE AS within_bound
        |FROM wau ORDER BY day""".stripMargin) { (s, d) =>
      val act = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .persist() // one pass feeds daily sketches, calendar, and the exact side
      val daily = act.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val g = act.agg(min("day").as("d0"), max("day").as("d1"))
      val days = g.select(explode(sequence(col("d0"), col("d1"))).as("d"))
      val est = broadcast(days)
        .join(daily, col("day").between(col("d") - 6, col("d")))
        .groupBy("d")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = broadcast(days.withColumnRenamed("d", "de"))
        .join(act, col("day").between(col("de") - 6, col("de")))
        .groupBy("de").agg(countDistinct("user_id").as("exact_wau"))
      est.join(exact, col("d") === col("de"))
        .select(col("d").as("day"), col("exact_wau"),
          (abs(col("est") - col("exact_wau")).cast("double")
            / col("exact_wau") <= lit(0.06)).as("within_bound"))
        .orderBy("day")
    },

    // Event-time TIMERS — the last transformWithState capability (q236
    // ValueState, q244 MapState): a session machine where sessions closed
    // by EVIDENCE (a later buffered event proves the gap) emit on sight,
    // and each key's OPEN TAIL flushes when the WATERMARK passes its
    // re-registered timer at (last event + gap) — emission depends on
    // evidence and watermarks, never on which order the file source picks
    // files (an earlier design leaned on pickup order and flaked ONCE in
    // five runs — the post-mortem is in the handoff). The stream runs as
    // TWO sequential AvailableNow drains over one checkpoint (the q169
    // incremental posture): wave A lands and drains, wave B arrives, the
    // SAME query resumes — so ListState buffers and registered timers
    // must survive a full query restart through the RocksDB checkpoint,
    // and a tail spanning the waves must merge (timer-fire safety across
    // the split is provable: an A-tail fires only if end ≤ maxA − 40 min,
    // and a B event continuing it would need ts ≤ end + 30 min < mid —
    // impossible, B is beyond mid). Comparison bounded away from the
    // stream tail: BOTH engines restrict to end < max − 40 min (gap 30 +
    // delay 10); the oracle is q28's lag+cumsum sessionization in integer
    // milliseconds under the same cutoff, row for row.
    QueryDef("q254_timer_sessions",
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events
        |           WHERE user_id < 20),
        |mx AS (SELECT max(ms) AS m FROM e),
        |l AS (SELECT user_id, ms,
        |        lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS pms
        |      FROM e),
        |g AS (SELECT user_id, ms,
        |        CASE WHEN pms IS NULL OR ms - pms > 1800000 THEN 1 ELSE 0 END
        |          AS brk
        |      FROM l),
        |s AS (SELECT user_id, ms,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ms) AS sid
        |      FROM g),
        |ses AS (SELECT user_id, CAST(min(ms) AS BIGINT) AS start_ms,
        |               CAST(max(ms) AS BIGINT) AS end_ms,
        |               CAST(count(*) AS BIGINT) AS n_events
        |        FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_ms, end_ms, n_events
        |FROM ses, mx WHERE end_ms < mx.m - 2400000
        |ORDER BY user_id, start_ms""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
      import graft.streaming.StatefulStreams
      val gapMs = 1800000L
      val cutMs = gapMs + 600000L
      val e = Tables.events(s, d).where(col("user_id") < 20)
        .select(col("user_id"), col("ts"))
        .persist() // wave split + the cutoff bound
      val mid = e.agg(
        expr("(min(unix_millis(ts)) + max(unix_millis(ts))) div 2"))
        .head().getLong(0)
      // State-partition sizing (guide §2.2): the query's own predicate
      // bounds the key domain to 20 users, and empty state partitions'
      // RocksDB open + commit + snapshot per micro-batch are the dominant
      // wall cost here (shuffle telemetry shows only ~38 KB moved) — so
      // the stream runs at StatefulStreams.statePartitionCap.
      Scratch.run(s, "graft_timer_q_", StatefulStreams.RocksDb,
          StatefulStreams.statePartitionCap(s, 20)) { root =>
        // wave A lands and drains to a STOP; wave B arrives and the SAME
        // checkpoint resumes — buffers and registered timers must survive
        // a full query restart through the RocksDB checkpoint. Waves are
        // 20-user session censuses — coalesce the landing writes so the
        // file source lists/opens a handful of files per batch instead of
        // one near-empty file per core (guide §6 small-files; the state
        // machine is file-pickup-order independent BY DESIGN, see above).
        Drain.twoWaves(s"$root/landing",
            e.where(expr(s"unix_millis(ts) <= $mid")).coalesce(4),
            e.where(expr(s"unix_millis(ts) > $mid")).coalesce(4)) {
          val stream = s.readStream
            .schema(new StructType()
              .add("user_id", LongType).add("ts", TimestampType))
            .parquet(s"$root/landing")
            .withWatermark("ts", "10 minutes")
            .as[(Long, java.sql.Timestamp)]
            .groupByKey(_._1)
            .transformWithState(new StatefulStreams.TimerSessions(gapMs),
              TimeMode.EventTime(), OutputMode.Append())
          Drain.toParquet(
            stream.toDF("user_id", "start_ms", "end_ms", "n_events"),
            s"$root/out", s"$root/ckpt")
        }
        val mx = e.agg(expr("max(unix_millis(ts))").as("m"))
        s.read.parquet(s"$root/out")
          .crossJoin(broadcast(mx))
          .where(col("end_ms") < col("m") - cutMs)
          .select("user_id", "start_ms", "end_ms", "n_events")
          .orderBy("user_id", "start_ms")
          // session-census sized; materialize so the tmpdir deletes now
          // instead of accumulating per bench rep via a shutdown hook
          .localCheckpoint()
      }
    },

    // A/B-test analyzer — the two-proportion z-test every experimentation
    // platform runs: users split into arms by the salted hash (the
    // assignment IS part of the contract — never an RNG), conversion =
    // reached a purchase event, pooled-variance z-score. All counts are
    // exact integers from one keyed census; the single z float is computed
    // in ONE row from those integers with the identical expression shape
    // on both engines and quantized to 1e-6 (the q19 posture: scalar math
    // parity, not cross-row float sums). The significance verdict derives
    // from the same quantized z on both sides — deterministic whatever it
    // is. Scale: one distinct-user aggregate + a 2-row census; the z
    // arithmetic is O(1).
    QueryDef("q243_ab_test",
      s"""WITH u AS (
         |  SELECT user_id,
         |         (${graft.functions.Hashes.mulHashSql("user_id", 91)}) % 2
         |           AS arm,
         |         CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |                   > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |              THEN 1 ELSE 0 END AS conv
         |  FROM events GROUP BY user_id),
         |c AS (SELECT
         |        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |        CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         |        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |        CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
         |      FROM u),
         |z AS (SELECT n_a, conv_a, n_b, conv_b,
         |        sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |             * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |             * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
         |          AS se
         |      FROM c),
         |zz AS (SELECT n_a, conv_a, n_b, conv_b,
         |         CASE WHEN se = 0 THEN CAST(0 AS DOUBLE)
         |              ELSE round((CAST(conv_a AS DOUBLE) / n_a
         |                          - CAST(conv_b AS DOUBLE) / n_b) / se, 6)
         |         END AS zr
         |       FROM z)
         |SELECT n_a, conv_a, n_b, conv_b,
         |       CAST(round(zr * 1000000, 0) AS BIGINT) AS z_e6,
         |       abs(zr) > 1.96 AS significant
         |FROM zz""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(when(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)) >
            sum(when(col("event_type") === "view", 1L).otherwise(0L)),
          1L).otherwise(0L).as("conv"))
        .select((Hashes.mulHash(col("user_id"), 91) % 2).as("arm"), col("conv"))
      val c = u.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      val p = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b"))
      // the degenerate all-convert / none-convert census has se = 0; both
      // engines state z = 0 for it explicitly (ANSI Spark would otherwise
      // throw on the 0/0 and DuckDB would emit NaN — neither is a result)
      val se = sqrt(p * (lit(1) - p) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      val zr = when(se === 0, lit(0.0d)).otherwise(
        round((col("conv_a").cast("double") / col("n_a") -
          col("conv_b").cast("double") / col("n_b")) / se, 6))
      c.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(zr * 1000000, 0).cast("long").as("z_e6"),
        (abs(zr) > 1.96).as("significant"))
    },

    // MapState — the second transformWithState state-variable kind (q236
    // covers ValueState): a per-user map of per-event-type counters, the
    // state a session machine keeps per-category tallies in. Same
    // AvailableNow harness, same exactly-once witness: commutative integer
    // adds make the final map equal the batch (user, event_type) census
    // under any micro-batch slicing, and Update-mode emissions are
    // monotone so max-per-cell downstream recovers the final state.
    QueryDef("q244_mapstate_counts",
      """WITH e AS (SELECT user_id, event_type FROM events WHERE user_id < 20)
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       TRUE AS stream_eq_batch
        |FROM e GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      import graft.streaming.StatefulStreams
      val e = Tables.events(s, d).where(col("user_id") < 20)
        .select(col("user_id"), col("event_type"))
        .persist() // feeds the landing write and the batch-parity census
      // state partitions capped at the 20-user key domain (q254's note)
      Scratch.run(s, "graft_tws_map_q_", StatefulStreams.RocksDb,
          StatefulStreams.statePartitionCap(s, 20)) { root =>
        e.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new StructType()
            .add("user_id", LongType).add("event_type", StringType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .as[(Long, String)]
          .groupByKey(_._1)
          .transformWithState(new StatefulStreams.CategoryCounts,
            TimeMode.None(), OutputMode.Update())
        val streamed = Drain.toMemory(stream.toDF("user_id", "event_type", "n"),
            s"$root/ckpt", "update")
          .groupBy("user_id", "event_type").agg(max("n").as("sn"))
        val batch = e.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_events"))
        batch.join(streamed, Seq("user_id", "event_type"), "left")
          .select(col("user_id"), col("event_type"), col("n_events"),
            (col("sn") === col("n_events")).as("stream_eq_batch"))
          .orderBy("user_id", "event_type")
          // census-sized; materialize so the tmpdir deletes now (q383 note)
          .localCheckpoint()
      }
    },

    // Native as-of join — the custom whole-operator Catalyst surface
    // (plans/NativeAsof: LogicalPlan → injected SparkStrategy → merge-scan
    // SparkPlan) doing the job q56's compositional union+window form does,
    // but in ONE forward pass per co-partitioned sorted partition AND
    // attaching the matched right row's PAYLOAD (the compositional form
    // can only attach the time; payload costs it a second join back).
    // Right side pre-aggregated to unique (user, ts) rows — the operator's
    // documented determinism contract. The oracle is DuckDB's own native
    // `ASOF LEFT JOIN`, which has exactly the same at-or-before semantics:
    // two independent native implementations of the operator must agree
    // row for row. Scale: two key exchanges + per-partition sorts, right
    // side streamed at most once per partition regardless of probe count —
    // the plan SortMergeJoin users expect, for the join Spark doesn't ship.
    QueryDef("q241_native_asof",
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_uid, epoch_us(ts) AS v_us,
        |             CAST(count(*) AS BIGINT) AS nv
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.p_us, v.v_us, v.nv
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_uid AND v.v_us <= p.p_us
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      import graft.plans.NativeAsof
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us").as("p_us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id").as("v_uid"), col("us").as("v_us"))
        .agg(count(lit(1)).as("nv"))
      NativeAsof.join(p, v, "user_id", "v_uid", "p_us", "v_us")
        .select(col("event_id"), col("user_id"), col("p_us"),
          col("v_us"), col("nv"))
        .orderBy("event_id")
    },

    // Tolerance as-of (pandas merge_asof(tolerance=...) / the WITHIN
    // clause): the latest at-or-before match counts only if it is RECENT
    // ENOUGH — here, the preceding view within 1 hour of the purchase.
    // The bound now lives INSIDE AsofJoinExec's cursor (tolerance=Some):
    // the cursor's candidate is already the LATEST at-or-before row, so if
    // IT is outside the window every earlier row is staler — the exec
    // nulls the right side in the same merge pass, no second projection
    // over the joined relation. The oracle states the identical bound as a
    // post-CASE on DuckDB's ASOF JOIN (equivalent by the same argument).
    // The matched flag makes the tolerance bite visible: q241 matches
    // ~96% of purchases, the 1-hour window keeps ~2/3.
    QueryDef("q257_asof_tolerance",
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_uid, epoch_us(ts) AS v_us,
        |             CAST(count(*) AS BIGINT) AS nv
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |j AS (SELECT p.event_id, p.user_id, p.p_us, v.v_us, v.nv
        |      FROM p ASOF LEFT JOIN v
        |        ON p.user_id = v.v_uid AND v.v_us <= p.p_us)
        |SELECT event_id, user_id, p_us,
        |       CASE WHEN p_us - v_us <= 3600000000 THEN v_us END AS v_us_tol,
        |       CASE WHEN p_us - v_us <= 3600000000 THEN nv END AS nv_tol,
        |       coalesce(p_us - v_us <= 3600000000, FALSE) AS matched
        |FROM j ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.plans.NativeAsof
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us").as("p_us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id").as("v_uid"), col("us").as("v_us"))
        .agg(count(lit(1)).as("nv"))
      NativeAsof.joinMulti(p, v, Seq("user_id"), Seq("v_uid"), "p_us", "v_us",
          tolerance = Some(3600000000L))
        .select(col("event_id"), col("user_id"), col("p_us"),
          col("v_us").as("v_us_tol"), col("nv").as("nv_tol"),
          col("v_us").isNotNull.as("matched"))
        .orderBy("event_id")
    },

    // Composite-key native as-of — the canonical (exchange, symbol)
    // quote-trade shape: the as-of key is usually a TUPLE, and a
    // single-key cursor would force concatenating keys into one column
    // upstream. AsofJoinExec's cursor now compares a lexicographic
    // composite of LongType keys directly (co-partition on all keys, sort
    // by keys then time, same O(|L|+|R|) merge). Stand-in tuple here:
    // (user_id, weekday) — the latest SAME-WEEKDAY view at-or-before each
    // purchase. The right side is unique per (keys, time) by groupBy
    // construction, and assertUniqueRight=true makes the exec PROVE it
    // while scanning (the determinism contract enforced, not just
    // documented). Oracle: DuckDB's ASOF LEFT JOIN with two equality
    // conditions — again two independent native implementations agreeing.
    QueryDef("q265_multikey_asof",
      """WITH p AS (SELECT event_id, user_id,
        |             (epoch_us(ts) // 86400000000) % 7 AS p_dow,
        |             epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_uid,
        |             (epoch_us(ts) // 86400000000) % 7 AS v_dow,
        |             epoch_us(ts) AS v_us,
        |             CAST(count(*) AS BIGINT) AS nv
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2, 3)
        |SELECT p.event_id, p.user_id, CAST(p.p_dow AS BIGINT) AS p_dow,
        |       p.p_us, v.v_us, v.nv
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_uid AND p.p_dow = v.v_dow
        | AND v.v_us <= p.p_us
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      import graft.plans.NativeAsof
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("(us div 86400000000) % 7").cast("long").as("p_dow"),
          col("us").as("p_us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id").as("v_uid"),
          expr("(us div 86400000000) % 7").cast("long").as("v_dow"),
          col("us").as("v_us"))
        .agg(count(lit(1)).as("nv"))
      NativeAsof.joinMulti(p, v, Seq("user_id", "p_dow"), Seq("v_uid", "v_dow"),
          "p_us", "v_us", assertUniqueRight = true)
        .select(col("event_id"), col("user_id"), col("p_dow"), col("p_us"),
          col("v_us"), col("nv"))
        .orderBy("event_id")
    },

    // String-keyed native as-of — the market shape the LongType-only
    // cursor couldn't serve (r7 verdict missing #2): quotes and trades key
    // on VARCHAR symbols. NativeAsof.joinMulti now dictionary-encodes any
    // non-Long key in front of the cursor (distinct symbol universe →
    // sorted dense Long ids → broadcast onto both sides), so the merge
    // loop stays allocation-free Long compares and the key exchange still
    // moves Longs. The fixture maps users onto a 37-symbol universe;
    // left symbols go NULL for every 11th user (null-key never-match
    // semantics through the encode) and the right side drops every 5th
    // user's views, so some probes are live symbols with no quote history.
    // Oracle: DuckDB's native ASOF LEFT JOIN on the VARCHAR directly —
    // two independent native implementations agreeing, as q241/q265.
    QueryDef("q289_string_asof",
      """WITH p AS (SELECT event_id,
        |             CASE WHEN user_id % 11 = 0 THEN NULL
        |                  ELSE 'S' || CAST(user_id % 37 AS VARCHAR) END AS sym,
        |             epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT 'S' || CAST(user_id % 37 AS VARCHAR) AS v_sym,
        |             epoch_us(ts) AS v_us, CAST(count(*) AS BIGINT) AS nv
        |      FROM events WHERE event_type = 'view' AND user_id % 5 <> 0
        |      GROUP BY 1, 2)
        |SELECT p.event_id, p.sym, p.p_us, v.v_us, v.nv
        |FROM p ASOF LEFT JOIN v
        |  ON p.sym = v.v_sym AND v.v_us <= p.p_us
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      import graft.plans.NativeAsof
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"),
          when(col("user_id") % 11 === 0, lit(null))
            .otherwise(concat(lit("S"), (col("user_id") % 37).cast("string")))
            .as("sym"),
          col("us").as("p_us"))
      val v = ev.where(col("event_type") === "view" && col("user_id") % 5 =!= 0)
        .groupBy(concat(lit("S"), (col("user_id") % 37).cast("string"))
            .as("v_sym"),
          col("us").as("v_us"))
        .agg(count(lit(1)).as("nv"))
      NativeAsof.joinMulti(p, v, Seq("sym"), Seq("v_sym"), "p_us", "v_us",
          assertUniqueRight = true)
        .select(col("event_id"), col("sym"), col("p_us"), col("v_us"), col("nv"))
        .orderBy("event_id")
    },

    // State-TTL witness — the last uncovered transformWithState surface:
    // TTLConfig-backed state EVICTION, proven deterministically. Two
    // per-user counters differ only in TTL (1 ms vs none); the harness is
    // q254's two-wave discipline — wave A (events at-or-before the
    // midpoint microsecond) lands and drains in one micro-batch, the query
    // STOPS, wave B drains through the same RocksDB checkpoint seconds
    // later. By wave B the TTL'd counter has expired (the inter-wave gap
    // exceeds 1 ms by orders of magnitude — the one wall-clock dependency,
    // and it cannot race) and RE-INITIALIZES from empty, so its wave-B
    // value is the wave-B-only count; the TTL-free counter must carry
    // wave A's count through the checkpoint restart. The oracle states
    // both waves from the same midpoint split: a failed eviction, a failed
    // re-init, or lost checkpoint state each flip a different column.
    QueryDef("q268_state_ttl",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us
        |           FROM events WHERE user_id < 20),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS na
        |      FROM e, m WHERE us <= mid GROUP BY user_id),
        |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nb
        |      FROM e, m WHERE us > mid GROUP BY user_id),
        |r AS (SELECT user_id, na AS ttl_cnt, na AS keep_cnt FROM a
        |      UNION ALL
        |      SELECT b.user_id, b.nb AS ttl_cnt,
        |             CAST(coalesce(a.na, 0) + b.nb AS BIGINT) AS keep_cnt
        |      FROM b LEFT JOIN a USING (user_id))
        |SELECT user_id, ttl_cnt, keep_cnt
        |FROM r ORDER BY user_id, keep_cnt""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.LongType
      import org.apache.spark.sql.types.StructType
      import graft.streaming.StatefulStreams
      val e = Tables.events(s, d).where(col("user_id") < 20)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        .persist() // wave split boundary + both landing writes
      val mid = e.agg(expr("(min(us) + max(us)) div 2")).head().getLong(0)
      // state partitions capped at the 20-user key domain (q254's note)
      Scratch.run(s, "graft_ttl_q_", StatefulStreams.RocksDb,
          StatefulStreams.statePartitionCap(s, 20)) { root =>
        // coalesce(1): exactly one file per wave → exactly one micro-batch
        // per drain (a split wave would reset the TTL counter mid-wave)
        Drain.twoWaves(s"$root/landing",
            e.where(col("us") <= mid).coalesce(1),
            e.where(col("us") > mid).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType()
              .add("user_id", LongType).add("us", LongType))
            .parquet(s"$root/landing")
            .as[(Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new StatefulStreams.TtlCounter,
              TimeMode.ProcessingTime(), OutputMode.Update())
          // Trigger.Once, NOT AvailableNow: in TimeMode.ProcessingTime the
          // stateful operator's shouldRunAnotherBatch is unconditionally
          // true (processing-time timers/TTL might always have work), so
          // AvailableNow never terminates — it kept appending empty
          // micro-batches forever when tried. Once() runs exactly one
          // batch per drain, which is also precisely the wave contract.
          Drain.toParquet(stream.toDF("user_id", "ttl_cnt", "keep_cnt"),
            s"$root/out", s"$root/ckpt", once = true)
        }
        s.read.parquet(s"$root/out")
          .select("user_id", "ttl_cnt", "keep_cnt")
          .orderBy("user_id", "keep_cnt")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
      }
    },

    // Late-data witness — the watermark semantics APPEND mode actually
    // promises, proven with the two-wave harness run IN REVERSE: wave A is
    // the NEWER half of the calendar (so the checkpointed watermark jumps
    // to maxA − 1h), wave B is the OLDER half — every wave-B row arrives
    // below the watermark, its windows are already finalized or evicted,
    // and the daily counts must equal the WAVE-A-ONLY counts for windows
    // the watermark closed (end ≤ wm); the still-open tail window never
    // emits. A dropped-late-row bug, a premature emission, or a watermark
    // that regressed across the restart each flips the result. The oracle
    // restates the whole thing relationally: the µs midpoint split, the
    // ms watermark (Spark tracks event-time stats in milliseconds), the
    // day-bucket counts over wave A, the end ≤ wm emission filter.
    QueryDef("q279_late_data",
      """WITH e AS (SELECT epoch_us(ts) AS us FROM events),
        |g AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |a AS (SELECT us FROM e, g WHERE us > g.mid),
        |wm AS (SELECT max(us) // 1000 - 3600000 AS wm_ms FROM a),
        |w AS (SELECT (us // 1000) // 86400000 * 86400000 AS start_ms,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM a GROUP BY 1)
        |SELECT CAST(w.start_ms AS BIGINT) AS window_start_ms, w.n
        |FROM w, wm WHERE w.start_ms + 86400000 <= wm.wm_ms
        |ORDER BY window_start_ms""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("ts"),
          expr("unix_micros(ts)").as("us"))
        .persist() // wave split boundary + both landing writes
      val mid = e.agg(expr("(min(us) + max(us)) div 2")).head().getLong(0)
      Scratch.run(s, "graft_late_q_") { root =>
        // REVERSED waves: the new half first (watermark jumps), old half late
        Drain.twoWaves(s"$root/landing",
            e.where(col("us") > mid).select("ts").coalesce(1),
            e.where(col("us") <= mid).select("ts").coalesce(1)) {
          val stream = s.readStream
            .schema(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("ts",
                org.apache.spark.sql.types.TimestampType))))
            .parquet(s"$root/landing")
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 day")).count()
            .select(col("window.start").as("start"), col("count").as("n"))
          Drain.toParquet(stream, s"$root/out", s"$root/ckpt")
        }
        // the result READS $root/out — materialize (day-census sized)
        // before the delete
        s.read.parquet(s"$root/out")
          .select(expr("unix_millis(start)").as("window_start_ms"), col("n"))
          .orderBy("window_start_ms")
          .localCheckpoint()
      }
    },

    // Time-based split — the ML-data split temporal problems REQUIRE
    // (train on the past, evaluate on the future; a hash split would leak
    // tomorrow into training): the cutoff is the exact 80th-percentile
    // rank statistic of the event order (rank ≤ ⌊4n/5⌋ with event_id
    // ties, via GlobalRank — no partition-less window), and the audit
    // reports what modelers must check before trusting the split — class
    // balance per side AND the user-overlap census (users active on BOTH
    // sides: the surface where user-level features leak test-period
    // behavior into training; q163's near-dup leakage audit is the
    // content-level sibling of this identity-level one).
    QueryDef("q258_temporal_split",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |t AS (SELECT count(*) AS n FROM e),
        |r AS (SELECT event_id, user_id, event_type,
        |             row_number() OVER (ORDER BY us, event_id) - 1 AS rk
        |      FROM e),
        |sp AS (SELECT user_id, event_type,
        |              CASE WHEN rk < (4 * t.n) // 5 THEN 'train'
        |                   ELSE 'test' END AS split
        |       FROM r, t),
        |ov AS (SELECT CAST(count(*) AS BIGINT) AS overlap_users FROM (
        |         SELECT user_id FROM sp GROUP BY user_id
        |         HAVING count(DISTINCT split) = 2)),
        |g AS (SELECT event_type,
        |        CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS train_n,
        |        CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS test_n
        |      FROM sp GROUP BY event_type)
        |SELECT g.event_type, g.train_n, g.test_n,
        |       CAST(g.test_n * 1000000 // (g.train_n + g.test_n) AS BIGINT)
        |         AS test_share_ppm,
        |       ov.overlap_users
        |FROM g, ov ORDER BY g.event_type""".stripMargin) { (s, d) =>
      import graft.operators.GlobalRank
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      val t = e.agg(count(lit(1)).as("n"))
      val sp = GlobalRank.zipWithRank(e,
          Seq(col("us"), col("event_id")), idName = "rk")
        .crossJoin(broadcast(t))
        .select(col("user_id"), col("event_type"),
          when(col("rk") < expr("(4 * n) div 5"), "train").otherwise("test")
            .as("split"))
        .persist() // the per-type census and the overlap census
      val ov = sp.groupBy("user_id")
        .agg(countDistinct("split").as("ns"))
        .where(col("ns") === 2)
        .agg(count(lit(1)).as("overlap_users"))
      sp.groupBy("event_type")
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("train_n"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("test_n"))
        .crossJoin(broadcast(ov))
        .select(col("event_type"), col("train_n"), col("test_n"),
          expr("test_n * 1000000 div (train_n + test_n)").as("test_share_ppm"),
          col("overlap_users"))
        .orderBy("event_type")
    },

    // The custom optimizer rule under the gate: the SAME native as-of join
    // with a left-only predicate applied ABOVE the join in the API call —
    // plans/PushFilterThroughAsof (injectOptimizerRule) sinks it below the
    // custom node, where Catalyst's stock rules carry it into the parquet
    // scan; without the rule the filter would run after both shuffles and
    // the merge (Catalyst stops pushing at operators it doesn't know).
    // NativeAsofSpec pins the optimized-plan shape; this query pins the
    // SEMANTICS: filtered-above must equal the oracle's filtered-below.
    QueryDef("q242_asof_pushdown",
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
        |           FROM events
        |           WHERE event_type = 'purchase' AND user_id < 50),
        |v AS (SELECT user_id AS v_uid, epoch_us(ts) AS v_us,
        |             CAST(count(*) AS BIGINT) AS nv
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.p_us, v.v_us, v.nv
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_uid AND v.v_us <= p.p_us
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      import graft.plans.NativeAsof
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us").as("p_us"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id").as("v_uid"), col("us").as("v_us"))
        .agg(count(lit(1)).as("nv"))
      NativeAsof.join(p, v, "user_id", "v_uid", "p_us", "v_us")
        .where(col("user_id") < 50) // above the join — the rule moves it
        .select(col("event_id"), col("user_id"), col("p_us"),
          col("v_us"), col("nv"))
        .orderBy("event_id")
    },

    // transformWithState — the arbitrary-stateful API Spark 4 added after
    // mapGroupsWithState (SPIP: StatefulProcessor with typed state
    // variables, timers, TTL, on the RocksDB state store) — driven end to
    // end INSIDE the query by the q161 AvailableNow harness: the event
    // slice lands as 4 files, maxFilesPerTrigger=1 forces several
    // micro-batches, and a per-user ValueState maintains (event count, max
    // cents) across them — count is commutative and max arrival-order-
    // insensitive, so the FINAL state must equal the batch aggregate under
    // any slicing; the stream_eq_batch column is that exactly-once witness
    // (a dropped or replayed micro-batch flips it, and the hash). The
    // provider conf flips to RocksDB for the drain and is restored after —
    // state variables are not implemented by the HDFS-backed default.
    // Scale: O(1) typed state per key on a spillable store — the
    // continuous analogue of the keyed aggregate, with the state-variable
    // API the session-machine operators (q28's successor) build on.
    QueryDef("q236_transform_with_state",
      """WITH e AS (SELECT user_id,
        |             CAST(round(greatest(value, 0) * 100, 0) AS BIGINT)
        |               AS cents
        |           FROM events WHERE user_id < 20)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(max(cents) AS BIGINT) AS max_cents,
        |       TRUE AS stream_eq_batch
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StructType}
      import graft.streaming.StatefulStreams
      val e = Tables.events(s, d).where(col("user_id") < 20)
        .select(col("user_id"),
          round(greatest(col("value"), lit(0)) * 100, 0).cast("long")
            .as("cents"))
        .persist() // feeds the landing write and the batch-parity aggregate
      // state partitions capped at the 20-user key domain (q254's note)
      Scratch.run(s, "graft_tws_q_", StatefulStreams.RocksDb,
          StatefulStreams.statePartitionCap(s, 20)) { root =>
        e.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new StructType()
            .add("user_id", LongType).add("cents", LongType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new StatefulStreams.RunningMax,
            TimeMode.None(), OutputMode.Update())
        // Update mode emits the running state once per touched key per
        // micro-batch; n is monotone, so max(n) (and its mx) IS the final
        // state
        val streamed = Drain.toMemory(stream.toDF("user_id", "n", "mx"),
            s"$root/ckpt", "update")
          .groupBy("user_id").agg(max("n").as("sn"), max("mx").as("smx"))
        val batch = e.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), max("cents").as("max_cents"))
        batch.join(streamed, Seq("user_id"), "left")
          .select(col("user_id"), col("n_events"), col("max_cents"),
            (col("sn") === col("n_events")
              && col("smx") === col("max_cents")).as("stream_eq_batch"))
          .orderBy("user_id")
          // census-sized; materialize so the tmpdir deletes now (q383 note)
          .localCheckpoint()
      }
    },

    // Window funnel (the ClickHouse windowFunnel semantics): how deep does
    // each user get through view → click → purchase when EVERY later step
    // must land within 1 hour of the FIRST step — the deadline anchors at
    // step 1, which is what distinguishes this from q77 (ordering only)
    // and q94 (session-scoped): a user who views, then clicks 90 minutes
    // later, reaches step 1 here. Steps resolve as a chain of conditional
    // min-aggregates — t₂ = min(click ∈ (t₁, t₁+1h]), t₃ = min(purchase ∈
    // (t₂, t₁+1h]) — each one keyed groupBy + broadcast-joined back, so
    // the chain is three map-side-combined exchanges on user_id, never a
    // self-join fan-out. Integer microseconds end to end; output is the
    // steps-reached histogram every funnel dashboard draws.
    QueryDef("q235_window_funnel",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |g1 AS (SELECT user_id, CAST(min(us) AS BIGINT) AS t1
        |       FROM e WHERE event_type = 'view' GROUP BY user_id),
        |g2 AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS t2
        |       FROM e JOIN g1 USING (user_id)
        |       WHERE event_type = 'click'
        |         AND us > t1 AND us <= t1 + 3600000000
        |       GROUP BY e.user_id),
        |g3 AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS t3
        |       FROM e JOIN g1 USING (user_id) JOIN g2 USING (user_id)
        |       WHERE event_type = 'purchase'
        |         AND us > t2 AND us <= t1 + 3600000000
        |       GROUP BY e.user_id),
        |s AS (SELECT u.user_id,
        |        CASE WHEN g3.t3 IS NOT NULL THEN 3
        |             WHEN g2.t2 IS NOT NULL THEN 2
        |             WHEN g1.t1 IS NOT NULL THEN 1
        |             ELSE 0 END AS steps
        |      FROM u LEFT JOIN g1 USING (user_id)
        |             LEFT JOIN g2 USING (user_id)
        |             LEFT JOIN g3 USING (user_id))
        |SELECT CAST(steps AS BIGINT) AS steps,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM s GROUP BY steps ORDER BY steps""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .persist() // feeds the universe and all three step aggregates
      val hour = 3600000000L
      val u = e.select("user_id").distinct()
      val g1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val g2 = e.join(g1, "user_id")
        .where(col("event_type") === "click"
          && col("us") > col("t1") && col("us") <= col("t1") + hour)
        .groupBy("user_id").agg(min("us").as("t2"))
      val g3 = e.join(g1, "user_id").join(g2, "user_id")
        .where(col("event_type") === "purchase"
          && col("us") > col("t2") && col("us") <= col("t1") + hour)
        .groupBy("user_id").agg(min("us").as("t3"))
      u.join(g1, Seq("user_id"), "left")
        .join(g2, Seq("user_id"), "left")
        .join(g3, Seq("user_id"), "left")
        .select(when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L)
          .otherwise(0L).as("steps"))
        .groupBy("steps").agg(count(lit(1)).as("n_users"))
        .orderBy("steps")
    },

    // The EWMA recurrence, CONTINUOUSLY — q233's batch flatMapSortedGroups
    // op as a stateful stream: a ValueState carries one long of smoothing
    // state per series, each drain folds its locally-sorted slice of the
    // series through the same s ← (y + s) div 2 step, and ORDER comes
    // from sequential WAVES (early calendar half drains to a stop, late
    // half resumes the same checkpoint — q169's incremental posture), so
    // the state also crosses a real query restart through RocksDB. The
    // streamed rows must equal the batch recurrence EXACTLY — the oracle
    // is q233's recursive CTE verbatim — which is only possible because
    // order is guaranteed by code, never by file-source pickup order (the
    // flake post-mortem lives in the handoff): a recurrence is the op
    // class where arrival order IS the semantics (contrast q236/q244,
    // whose commutative state tolerates any slicing).
    QueryDef("q256_stream_ewma", ewmaSql) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      import graft.streaming.StatefulStreams
      val daily = dailyCents(Tables.events(s, d))
        .persist() // wave split scans it twice
      val midDay = daily.agg(expr("(min(day) + max(day)) div 2"))
        .head().getLong(0)
      Scratch.run(s, "graft_sewma_q_", StatefulStreams.RocksDb) { root =>
        // ordered WAVES, not ordered files: the early half of the calendar
        // lands and drains to a stop, then the late half arrives and the
        // SAME checkpoint resumes — the smoothing state crosses a real
        // query restart, and wave order is guaranteed by code, not by
        // whatever file order the source picks (the flake post-mortem in
        // the handoff)
        Drain.twoWaves(s"$root/landing", daily.where(col("day") <= midDay),
            daily.where(col("day") > midDay)) {
          val stream = s.readStream
            .schema(new StructType().add("event_type", StringType)
              .add("day", LongType).add("y", LongType))
            .parquet(s"$root/landing")
            .as[(String, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new StatefulStreams.OrderedEwma,
              TimeMode.None(), OutputMode.Append())
          Drain.toParquet(
            stream.toDF("event_type", "day", "y_cents", "ewma_cents"),
            s"$root/out", s"$root/ckpt")
        }
        s.read.parquet(s"$root/out")
          .select("event_type", "day", "y_cents", "ewma_cents")
          .orderBy("event_type", "day")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
      }
    },

    // Cohort LTV curve — q214's retention triangle with MONEY: users
    // cohort by first-activity week, purchase cents land at their
    // cohort's week age, and each cohort's running cumulative spend
    // divided by its FIXED user count (denominator = cohort size, not
    // active users — the LTV convention) gives cumulative
    // value-per-user by age, the curve payback models are fit to. Exact
    // integer cents; the cumulative window runs per cohort over the
    // handful of age rows.
    QueryDef("q264_cohort_ltv",
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
        |             CASE WHEN event_type = 'purchase'
        |                  THEN CAST(round(greatest(value, 0) * 100, 0)
        |                    AS BIGINT) ELSE 0 END AS cents
        |           FROM events),
        |f AS (SELECT user_id, CAST(min(wk) AS BIGINT) AS cw
        |      FROM e GROUP BY user_id),
        |w0 AS (SELECT CAST(min(cw) AS BIGINT) AS base FROM f),
        |cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
        |       FROM f GROUP BY cw),
        |a AS (SELECT f.cw, e.wk - f.cw AS age,
        |             CAST(sum(e.cents) AS BIGINT) AS cents
        |      FROM e JOIN f USING (user_id) GROUP BY f.cw, e.wk - f.cw),
        |c AS (SELECT cw, age, cents,
        |        CAST(sum(cents) OVER (PARTITION BY cw ORDER BY age)
        |          AS BIGINT) AS cum_cents
        |      FROM a)
        |SELECT c.cw - w0.base AS cohort, CAST(c.age AS BIGINT) AS age,
        |       cs.n_users, c.cents, c.cum_cents,
        |       CAST(c.cum_cents // cs.n_users AS BIGINT)
        |         AS cum_per_user_cents
        |FROM c JOIN cs USING (cw), w0
        |ORDER BY cohort, age""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"),
          when(col("event_type") === "purchase",
            round(greatest(col("value"), lit(0)) * 100, 0).cast("long"))
            .otherwise(0L).as("cents"))
      val f = e.groupBy("user_id").agg(min("wk").as("cw"))
      val w0 = f.agg(min("cw").as("base"))
      val cs = f.groupBy("cw").agg(count(lit(1)).as("n_users"))
      val a = e.join(f, "user_id")
        .groupBy(col("cw"), (col("wk") - col("cw")).as("age"))
        .agg(sum("cents").as("cents"))
      val cumW = Window.partitionBy("cw").orderBy("age")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      a.withColumn("cum_cents", sum("cents").over(cumW))
        .join(cs, "cw")
        .crossJoin(broadcast(w0))
        .select((col("cw") - col("base")).as("cohort"), col("age"),
          col("n_users"), col("cents"), col("cum_cents"),
          expr("cum_cents div n_users").as("cum_per_user_cents"))
        .orderBy("cohort", "age")
    },

    // Rolling correlation — "do views and purchases move together, and
    // when did they decouple": trailing-7-observation Pearson between the
    // two daily series, from EXACT integer window moments (Σx, Σy, Σx²,
    // Σy², Σxy over ROWS 6 PRECEDING — every sum a BIGINT in cents; the
    // covariance/variance combinations n·Σxy − ΣxΣy stay in exact integer
    // arithmetic and both engines convert the IDENTICAL integers to
    // double for the one ratio+sqrt, quantized 1e-6). Only full windows
    // emit (rn ≥ 7 — a partial-window "correlation" is noise). The window
    // partitions by nothing but runs over the ~30-row daily series — a
    // k-row stats relation, not the corpus (the q19 scalar-parity
    // posture applied to window moments).
    QueryDef("q261_rolling_corr",
      s"""WITH ${dailyCentsSql(where = "event_type IN ('view', 'purchase')")},
        |j AS (SELECT v.day, v.y AS x, p.y AS yy
        |      FROM (SELECT day, y FROM d WHERE event_type = 'view') v
        |      JOIN (SELECT day, y FROM d WHERE event_type = 'purchase') p
        |        USING (day)),
        |w AS (SELECT day,
        |        row_number() OVER (ORDER BY day) AS rn,
        |        CAST(sum(x) OVER tw AS BIGINT) AS sx,
        |        CAST(sum(yy) OVER tw AS BIGINT) AS sy,
        |        CAST(sum(x * x) OVER tw AS BIGINT) AS sxx,
        |        CAST(sum(yy * yy) OVER tw AS BIGINT) AS syy,
        |        CAST(sum(x * yy) OVER tw AS BIGINT) AS sxy
        |      FROM j
        |      WINDOW tw AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
        |                    AND CURRENT ROW)),
        |c AS (SELECT day,
        |        CASE WHEN 7 * sxx - sx * sx = 0 OR 7 * syy - sy * sy = 0
        |          THEN NULL
        |          ELSE CAST(round(
        |            CAST(7 * sxy - sx * sy AS DOUBLE)
        |            / sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)
        |                   * CAST(7 * syy - sy * sy AS DOUBLE)) * 1000000, 0)
        |            AS BIGINT) END AS corr_e6
        |      FROM w WHERE rn >= 7)
        |SELECT CAST(day AS BIGINT) AS day, corr_e6
        |FROM c ORDER BY day""".stripMargin) { (s, d) =>
      val dRel = dailyCents(Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase")))
      val v = dRel.where(col("event_type") === "view").select(col("day"), col("y").as("x"))
      val p = dRel.where(col("event_type") === "purchase")
        .select(col("day").as("pd"), col("y").as("yy"))
      val j = v.join(p, col("day") === col("pd")).select("day", "x", "yy")
      val tw = Window.orderBy("day").rowsBetween(-6, 0)
      val w = j.select(col("day"),
        row_number().over(Window.orderBy("day")).as("rn"),
        sum("x").over(tw).as("sx"), sum("yy").over(tw).as("sy"),
        sum(col("x") * col("x")).over(tw).as("sxx"),
        sum(col("yy") * col("yy")).over(tw).as("syy"),
        sum(col("x") * col("yy")).over(tw).as("sxy"))
      // a constant 7-day window zeroes a variance: Spark (non-ANSI) would
      // null the 0/0 while DuckDB errors on CAST(NaN AS BIGINT) — the
      // degenerate arm must be stated as NULL on BOTH engines (the q243
      // se = 0 discipline); factors are checked separately, their BIGINT
      // product could overflow
      w.where(col("rn") >= 7)
        .select(col("day"),
          when(lit(7) * col("sxx") - col("sx") * col("sx") === 0 ||
               lit(7) * col("syy") - col("sy") * col("sy") === 0,
            lit(null).cast("long"))
            .otherwise(
              round((lit(7) * col("sxy") - col("sx") * col("sy")).cast("double")
                / sqrt((lit(7) * col("sxx") - col("sx") * col("sx")).cast("double")
                  * (lit(7) * col("syy") - col("sy") * col("sy")).cast("double"))
                * 1000000, 0).cast("long")).as("corr_e6"))
        .orderBy("day")
    },

    // Seasonal-baseline anomaly detection — the ops-analytics staple: each
    // (event_type, day-of-week) gets an integer baseline (exact floor-div
    // mean of daily cents), residual = actual − baseline, and a day is
    // anomalous when |residual| exceeds 3× the series' MAD of residuals
    // (q215's robust detector pointed at SEASONAL residuals — a stddev
    // rule would let the weekly pattern inflate its own threshold). MAD =
    // exact lower-median rank statistic; everything integer end to end.
    // Output = the anomaly list a pager fires on.
    QueryDef("q262_seasonal_anomaly",
      s"""WITH ${dailyCentsSql()},
        |b AS (SELECT event_type, day % 7 AS dow,
        |             CAST(sum(y) // count(*) AS BIGINT) AS base
        |      FROM d GROUP BY 1, 2),
        |r AS (SELECT d.event_type, d.day, d.y, b.base,
        |             d.y - b.base AS resid
        |      FROM d JOIN b ON b.event_type = d.event_type
        |                   AND b.dow = d.day % 7),
        |m AS (SELECT event_type, a AS mad FROM (
        |        SELECT event_type, abs(resid) AS a,
        |               row_number() OVER (PARTITION BY event_type
        |                 ORDER BY abs(resid), day) AS rn,
        |               count(*) OVER (PARTITION BY event_type) AS cnt
        |        FROM r) t WHERE rn = (cnt + 1) // 2)
        |SELECT r.event_type, CAST(r.day AS BIGINT) AS day, r.y AS cents,
        |       r.base AS baseline_cents, CAST(r.resid AS BIGINT) AS resid_cents
        |FROM r JOIN m ON m.event_type = r.event_type
        |WHERE abs(r.resid) > 3 * m.mad
        |ORDER BY r.event_type, day""".stripMargin) { (s, d) =>
      val dRel = dailyCents(Tables.events(s, d))
        .persist() // baseline fit + residual scan
      val b = dRel.groupBy(col("event_type").as("bt"),
          (col("day") % 7).as("dow"))
        .agg(expr("sum(y) div count(*)").as("base"))
      val r = dRel.join(b,
          col("event_type") === col("bt") && col("day") % 7 === col("dow"))
        .select(col("event_type"), col("day"), col("y"), col("base"),
          (col("y") - col("base")).as("resid"))
        .persist() // the MAD census and the anomaly filter
      val mw = Window.partitionBy("event_type").orderBy(abs(col("resid")), col("day"))
      val cw = Window.partitionBy("event_type")
      val m = r.withColumn("rn", row_number().over(mw))
        .withColumn("cnt", count(lit(1)).over(cw))
        .where(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type").as("mt"), abs(col("resid")).as("mad"))
      r.join(m, col("event_type") === col("mt"))
        .where(abs(col("resid")) > lit(3) * col("mad"))
        .select(col("event_type"), col("day"), col("y").as("cents"),
          col("base").as("baseline_cents"), col("resid").as("resid_cents"))
        .orderBy("event_type", "day")
    },

    // Theil–Sen robust trend — the median-of-pairwise-slopes estimator
    // (up to ~29% outlier breakdown vs OLS's zero): per event-type daily
    // series, every day pair yields an integer cents-per-day slope, the
    // series' slope is the exact lower-median of those (rank statistic
    // with (d1, d2) ties), and the intercept is the lower-median residual
    // y − slope·day — all integer once slopes round, so both engines walk
    // identical values. Scale posture stated honestly: the pair fan-out is
    // O(T²) per series (T = series length, ~30 here — 435 pairs); at long
    // horizons production samples pairs (the q112 hash-sample machinery
    // composes directly), which keeps the estimator's guarantees in
    // expectation.
    QueryDef("q255_theil_sen",
      s"""WITH ${dailyCentsSql()},
        |p AS (SELECT a.event_type,
        |             CAST(round(CAST(b.y - a.y AS DOUBLE)
        |                        / (b.day - a.day), 0) AS BIGINT) AS s,
        |             a.day AS d1, b.day AS d2
        |      FROM d a JOIN d b
        |        ON a.event_type = b.event_type AND a.day < b.day),
        |ms AS (SELECT event_type, s AS slope FROM (
        |         SELECT event_type, s,
        |                row_number() OVER (PARTITION BY event_type
        |                  ORDER BY s, d1, d2) AS rn,
        |                count(*) OVER (PARTITION BY event_type) AS cnt
        |         FROM p) t WHERE rn = (cnt + 1) // 2),
        |r AS (SELECT d.event_type, d.day, d.y - ms.slope * d.day AS resid
        |      FROM d JOIN ms USING (event_type)),
        |mb AS (SELECT event_type, resid AS intercept FROM (
        |         SELECT event_type, resid,
        |                row_number() OVER (PARTITION BY event_type
        |                  ORDER BY resid, day) AS rn,
        |                count(*) OVER (PARTITION BY event_type) AS cnt
        |         FROM r) t WHERE rn = (cnt + 1) // 2),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |       FROM d GROUP BY event_type)
        |SELECT nd.event_type, nd.n_days, ms.slope AS slope_cpd,
        |       CAST(mb.intercept AS BIGINT) AS intercept_cents
        |FROM nd JOIN ms USING (event_type) JOIN mb USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      val dRel = dailyCents(Tables.events(s, d))
        .persist() // pair build, residuals, and the day census
      val p = dRel.as("a").join(dRel.as("b"),
          col("a.event_type") === col("b.event_type")
            && col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          round((col("b.y") - col("a.y")).cast("double")
            / (col("b.day") - col("a.day")), 0).cast("long").as("s"),
          col("a.day").as("d1"), col("b.day").as("d2"))
      val sw = Window.partitionBy("event_type").orderBy("s", "d1", "d2")
      val cw = Window.partitionBy("event_type")
      val ms = p.withColumn("rn", row_number().over(sw))
        .withColumn("cnt", count(lit(1)).over(cw))
        .where(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("s").as("slope"))
      val r = dRel.join(ms, "event_type")
        .select(col("event_type"), col("day"),
          (col("y") - col("slope") * col("day")).as("resid"))
      val rw = Window.partitionBy("event_type").orderBy("resid", "day")
      val mb = r.withColumn("rn", row_number().over(rw))
        .withColumn("cnt", count(lit(1)).over(cw))
        .where(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("resid").as("intercept"))
      val nd = dRel.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      nd.join(ms, "event_type").join(mb, "event_type")
        .select(col("event_type"), col("n_days"),
          col("slope").as("slope_cpd"),
          col("intercept").as("intercept_cents"))
        .orderBy("event_type")
    },

    // Per-series EWMA — a SEQUENTIAL RECURRENCE (s_t depends on s_{t-1}),
    // the op class no window frame can express because it is not
    // associative. Spark-first answer: KeyValueGroupedDataset
    // .flatMapSortedGroups — the typed sorted-group API built for exactly
    // this (secondary sort WITHIN the exchange, one ordered pass per key,
    // O(1) state) — the first coverage of that surface in the catalog.
    // Determinism is the integer playbook: daily volumes in exact cents,
    // smoothing as the α=1/2 integer recurrence s_t = (y_t + s_{t-1}) div 2
    // (values clamped non-negative so floor-vs-truncate never diverges),
    // so both engines walk identical BIGINTs — the oracle is a recursive
    // CTE stepping the same recurrence. Scale: one exchange keyed by
    // series, sort bounded per key, state one long — the canonical shape
    // for gap-aware smoothing/state machines over 100 TB of event series.
    QueryDef("q233_ewma", ewmaSql) { (s, d) =>
      import s.implicits._
      val daily = dailyCents(Tables.events(s, d))
        .as[(String, Long, Long)]
      daily.groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          // init tracked explicitly, not by a negative sentinel (the
          // OrderedEwma advisor fix applied to the batch twin too)
          var init = false
          var state = 0L
          rows.map { case (_, day, y) =>
            state = if (!init) { init = true; y } else (y + state) / 2
            (k, day, y, state)
          }
        }
        .toDF("event_type", "day", "y_cents", "ewma_cents")
        .orderBy("event_type", "day")
    },

    // Holt's linear-trend smoothing — the forecasting recurrence one rung
    // above q233's EWMA: level AND trend, l_t = ⌊(y_t + (l+b))/2⌋,
    // b_t = ⌊((l_t − l) + b)/2⌋ with α=β=½ — the op class windows can't
    // express (non-associative, TWO coupled carried states), run
    // distributed by the q233 shape: one exchange keyed by series,
    // secondary sort by day, O(1) state per key. All-integer cents; the
    // TREND can go negative, which is exactly where division semantics
    // must be PINNED: DuckDB's integer `//` TRUNCATES toward zero
    // (-5 // 2 = -2, measured — it only floors for non-integer operands),
    // matching Scala's `/`, so truncating halving is the stated contract
    // on both engines (Math.floorDiv was 1-off on every negative odd
    // trend; a float formulation 1-ulp-split against DuckDB's round() at
    // this magnitude — the 1e-6 grid sits ~10 ulps above double noise at
    // 1e4 cents — so integers are the only honest contract). Each row
    // carries its 3-step-ahead forecast l + 3b — the number a capacity
    // dashboard plots. Oracle: recursive CTE stepping the same recurrence
    // (the q233 precedent with two carried columns).
    QueryDef("q271_holt_trend",
      s"""$holtSql
        |SELECT event_type, CAST(day AS BIGINT) AS day, y AS y_cents,
        |       CAST(l AS BIGINT) AS level_cents,
        |       CAST(b AS BIGINT) AS trend_cents,
        |       CAST(l + 3 * b AS BIGINT) AS f3_cents
        |FROM rec ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import s.implicits._
      val daily = dailyCents(Tables.events(s, d))
        .as[(String, Long, Long)]
      daily.groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          var init = false
          var l = 0L
          var b = 0L
          rows.map { case (_, day, y) =>
            if (!init) { init = true; l = y; b = 0L }
            else {
              val lNew = (y + (l + b)) / 2
              b = ((lNew - l) + b) / 2
              l = lNew
            }
            (k, day, y, l, b, l + 3 * b)
          }
        }
        .toDF("event_type", "day", "y_cents", "level_cents", "trend_cents",
          "f3_cents")
        .orderBy("event_type", "day")
    },

    // Markov transition matrix + stationary distribution — the behavioral
    // model one rung above q204's raw session paths: P(next event type |
    // current), exact integer counts from one lead() window, row-
    // stochastic probabilities on the 1e-6 integer grid, and the
    // stationary state weights from six power-iteration rounds on the
    // TRANSPOSED matrix (operators/PowerIteration — the k×k matrix is
    // STATISTICS, k = #event types, so driver rounds are the q229/scaler
    // posture; the oracle replays every round with the same ascending-
    // fold + 1e-9 snap discipline). Output: the dense k² transition grid,
    // each row carrying its from-state's stationary weight — the numbers
    // a churn/engagement model starts from.
    QueryDef("q276_markov_stationary", MarkovSql.sql) { (s, d) =>
      import graft.operators.PowerIteration
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("ft"), col("nxt").as("tt"))
        .agg(count(lit(1)).as("c"))
      // the k² transition census is statistics, not data (k = event
      // types) — collected like scaler means / PQ codebooks
      val cells = pairs.collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val types = cells.keys.flatMap(k => Seq(k._1, k._2)).toSeq
        .distinct.sorted.toArray
      val k = types.length
      val counts = Array.tabulate(k, k)((i, j) =>
        cells.getOrElse((types(i), types(j)), 0L))
      val rowSum = counts.map(_.sum)
      val pE6 = Array.tabulate(k, k)((i, j) =>
        if (rowSum(i) == 0) 0L else counts(i)(j) * 1000000L / rowSum(i))
      val cMat = Array.tabulate(k, k)((i, j) => pE6(j)(i).toDouble)
      val (pi, _) = PowerIteration.topEigenvector(cMat, 6)
      def e9(x: Double): Long = BigDecimal(x * 1000000000d)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
      val rows = for (i <- 0 until k; j <- 0 until k)
        yield (types(i), types(j), counts(i)(j), pE6(i)(j), e9(pi(i)))
      rows.toDF("from_type", "to_type", "c", "p_e6", "pi_from_e9")
        .orderBy("from_type", "to_type")
    },

    // Forecast backtest — the eval loop q271's forecasts were missing: at
    // every origin row the 3-observation-ahead Holt forecast (l + 3b) is
    // graded against the realized value, per-series MAPE in exact ppm,
    // and — the honesty bar every forecasting claim must clear — compared
    // to the naive persistence baseline (ŷ = today's value). skill_ppm =
    // naive − model; a model that can't beat persistence shows up
    // negative instead of hiding behind an absolute number. All integer:
    // the recurrence is q271's, the horizon is 3 OBSERVATIONS (lead over
    // the row index — calendar gaps don't skew the join), zero-valued
    // realizations are excluded from the denominator on both engines.
    QueryDef("q283_forecast_backtest",
      s"""$holtSql,
        |fin AS MATERIALIZED (SELECT event_type, rn, y, l, b,
        |          lead(y, 3) OVER (PARTITION BY event_type ORDER BY rn)
        |            AS ya
        |        FROM rec),
        |ape AS MATERIALIZED (SELECT event_type,
        |          abs((l + 3 * b) - ya) * 1000000 // ya AS model_ape,
        |          abs(y - ya) * 1000000 // ya AS naive_ape
        |        FROM fin WHERE ya IS NOT NULL AND ya > 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
        |       CAST(sum(model_ape) // count(*) AS BIGINT) AS mape_ppm,
        |       CAST(sum(naive_ape) // count(*) AS BIGINT) AS naive_mape_ppm,
        |       CAST(sum(naive_ape) // count(*)
        |            - sum(model_ape) // count(*) AS BIGINT) AS skill_ppm
        |FROM ape GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
      import s.implicits._
      val daily = dailyCents(Tables.events(s, d))
        .as[(String, Long, Long)]
      val rec = daily.groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          var init = false
          var rn = 0L
          var l = 0L
          var b = 0L
          rows.map { case (_, day, y) =>
            rn += 1
            if (!init) { init = true; l = y; b = 0L }
            else {
              val lNew = (y + (l + b)) / 2
              b = ((lNew - l) + b) / 2
              l = lNew
            }
            (k, rn, y, l, b)
          }
        }
        .toDF("event_type", "rn", "y", "l", "b")
      val w = Window.partitionBy("event_type").orderBy("rn")
      rec.withColumn("ya", lead("y", 3).over(w))
        .where(col("ya").isNotNull && col("ya") > 0)
        .select(col("event_type"),
          expr("abs((l + 3 * b) - ya) * 1000000 div ya").as("model_ape"),
          expr("abs(y - ya) * 1000000 div ya").as("naive_ape"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          expr("sum(model_ape) div count(*)").as("mape_ppm"),
          expr("sum(naive_ape) div count(*)").as("naive_mape_ppm"),
          expr("sum(naive_ape) div count(*) - sum(model_ape) div count(*)")
            .as("skill_ppm"))
        .orderBy("event_type")
    },

    // Delta-method CI for a RATIO metric — the metrics-engineering staple
    // q243's two-proportion z-test doesn't cover: revenue-per-view is a
    // ratio of two per-user sums, and users (not events) are the
    // independent units, so Var(R) needs the delta method over per-user
    // (x, y) moments: Var ≈ (Σy)⁻²·[S_xx − 2R·S_xy + R²·S_yy] with the
    // five moments (n, Σx, Σy, and the CENTERED S terms via n·Σab − ΣaΣb)
    // kept as exact BIGINTs from one keyed census; only the final one-row
    // ratio/sqrt runs in floats, in one stated expression shape quantized
    // to ppm (the q19/q243 scalar-parity posture). Output: the ratio, its
    // standard error, and the 95% CI a metrics platform prints.
    QueryDef("q285_ratio_delta_ci",
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(greatest(value, 0) * 100, 0) AS BIGINT)
        |         ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM u),
        |f AS (SELECT n, sx, sy,
        |        CAST(sx AS DOUBLE) / sy AS r,
        |        (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / n AS vx,
        |        (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) / n AS vy,
        |        (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / n AS vxy
        |      FROM m),
        |g AS (SELECT n, sx, sy, r,
        |        sqrt((vx - 2 * r * vxy + r * r * vy))
        |          / CAST(sy AS DOUBLE) AS se
        |      FROM f)
        |SELECT n, sx AS purchase_cents, sy AS views,
        |       CAST(round(r * 1000000, 0) AS BIGINT) AS ratio_ppm,
        |       CAST(round(se * 1000000, 0) AS BIGINT) AS se_ppm,
        |       CAST(round((r - CAST(1.96 AS DOUBLE) * se) * 1000000, 0)
        |         AS BIGINT) AS lo_ppm,
        |       CAST(round((r + CAST(1.96 AS DOUBLE) * se) * 1000000, 0)
        |         AS BIGINT) AS hi_ppm
        |FROM g""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
            round(greatest(col("value"), lit(0)) * 100, 0).cast("long"))
            .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
      val m = u.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
      val f = m.select(col("n"), col("sx"), col("sy"),
        (col("sx").cast("double") / col("sy")).as("r"),
        ((col("n").cast("double") * col("sxx")
          - col("sx").cast("double") * col("sx")) / col("n")).as("vx"),
        ((col("n").cast("double") * col("syy")
          - col("sy").cast("double") * col("sy")) / col("n")).as("vy"),
        ((col("n").cast("double") * col("sxy")
          - col("sx").cast("double") * col("sy")) / col("n")).as("vxy"))
      val g = f.select(col("n"), col("sx"), col("sy"), col("r"),
        (sqrt(col("vx") - lit(2) * col("r") * col("vxy")
          + col("r") * col("r") * col("vy"))
          / col("sy").cast("double")).as("se"))
      g.select(col("n"), col("sx").as("purchase_cents"), col("sy").as("views"),
        round(col("r") * 1000000, 0).cast("long").as("ratio_ppm"),
        round(col("se") * 1000000, 0).cast("long").as("se_ppm"),
        round((col("r") - lit(1.96) * col("se")) * 1000000, 0).cast("long")
          .as("lo_ppm"),
        round((col("r") + lit(1.96) * col("se")) * 1000000, 0).cast("long")
          .as("hi_ppm"))
    },

    // Haar wavelet energy census — the multi-resolution decomposition the
    // single-scale detectors (q262 daily, q282 cumulative) can't give:
    // three UNNORMALIZED Haar levels over each daily series — pairwise
    // a = x₀+x₁, d = x₀−x₁ on exact integer cents (no √2, so every
    // coefficient stays a BIGINT and the transform is exactly
    // reversible), approximations cascading level to level, a trailing
    // odd element dropped per level (stated on both engines via
    // full-pairs-only grouping). Per-level detail energy Σd² localizes
    // WHERE the variance lives: day-to-day noise (level 1) vs
    // multi-day/weekly structure (levels 2–3) — the census compression
    // and anomaly systems read first. Three unrolled pair-group levels,
    // each one keyed aggregate over a k-row series relation.
    QueryDef("q286_haar_energy",
      s"""WITH ${dailyCentsSql("d0")},
        |l0 AS (SELECT event_type, y,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
        |           AS rn
        |       FROM d0),
        |l1 AS (SELECT event_type, rn // 2 AS rn,
        |         CAST(max(CASE WHEN rn % 2 = 0 THEN y END)
        |            + max(CASE WHEN rn % 2 = 1 THEN y END) AS BIGINT) AS a,
        |         CAST(max(CASE WHEN rn % 2 = 0 THEN y END)
        |            - max(CASE WHEN rn % 2 = 1 THEN y END) AS BIGINT) AS d
        |       FROM l0 GROUP BY event_type, rn // 2 HAVING count(*) = 2),
        |l2 AS (SELECT event_type, rn // 2 AS rn,
        |         CAST(max(CASE WHEN rn % 2 = 0 THEN a END)
        |            + max(CASE WHEN rn % 2 = 1 THEN a END) AS BIGINT) AS a,
        |         CAST(max(CASE WHEN rn % 2 = 0 THEN a END)
        |            - max(CASE WHEN rn % 2 = 1 THEN a END) AS BIGINT) AS d
        |       FROM l1 GROUP BY event_type, rn // 2 HAVING count(*) = 2),
        |l3 AS (SELECT event_type, rn // 2 AS rn,
        |         CAST(max(CASE WHEN rn % 2 = 0 THEN a END)
        |            + max(CASE WHEN rn % 2 = 1 THEN a END) AS BIGINT) AS a,
        |         CAST(max(CASE WHEN rn % 2 = 0 THEN a END)
        |            - max(CASE WHEN rn % 2 = 1 THEN a END) AS BIGINT) AS d
        |       FROM l2 GROUP BY event_type, rn // 2 HAVING count(*) = 2),
        |en AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS level,
        |         CAST(count(*) AS BIGINT) AS n_coeffs,
        |         CAST(sum(d * d) AS BIGINT) AS detail_energy FROM l1
        |  GROUP BY event_type
        |  UNION ALL
        |  SELECT event_type, 2, CAST(count(*) AS BIGINT),
        |         CAST(sum(d * d) AS BIGINT) FROM l2 GROUP BY event_type
        |  UNION ALL
        |  SELECT event_type, 3, CAST(count(*) AS BIGINT),
        |         CAST(sum(d * d) AS BIGINT) FROM l3 GROUP BY event_type)
        |SELECT event_type, level, n_coeffs, detail_energy
        |FROM en ORDER BY event_type, level""".stripMargin) { (s, d) =>
      val d0 = dailyCents(Tables.events(s, d))
      val w = Window.partitionBy("event_type").orderBy("day")
      val l0 = d0.select(col("event_type"), col("y"),
        (row_number().over(w) - 1).as("rn"))
      def level(in: org.apache.spark.sql.DataFrame, v: String) =
        in.groupBy(col("event_type"), expr("rn div 2").as("rn"))
          .agg((max(when(expr("rn % 2 = 0"), col(v)))
            + max(when(expr("rn % 2 = 1"), col(v)))).as("a"),
            (max(when(expr("rn % 2 = 0"), col(v)))
              - max(when(expr("rn % 2 = 1"), col(v)))).as("d"),
            count(lit(1)).as("np"))
          .where(col("np") === 2).drop("np")
      val l1 = level(l0, "y").persist() // feeds l2 and its own energy row
      val l2 = level(l1, "a").persist()
      val l3 = level(l2, "a")
      def en(df: org.apache.spark.sql.DataFrame, lvl: Int) =
        df.groupBy("event_type").agg(count(lit(1)).as("n_coeffs"),
            sum(col("d") * col("d")).as("detail_energy"))
          .select(col("event_type"), lit(lvl.toLong).as("level"),
            col("n_coeffs"), col("detail_energy"))
      en(l1, 1).unionByName(en(l2, 2)).unionByName(en(l3, 3))
        .orderBy("event_type", "level")
    },

    // CUSUM changepoint detection — the sequential drift detector q262's
    // per-day anomaly rule can't replace (CUSUM accumulates SMALL
    // persistent shifts that never individually cross a 3σ bar): per
    // series, S_t = max(0, S_{t−1} + (y_t − μ − slack)) in exact integer
    // cents, alarming when S_t > h with μ = the series' exact floor-mean,
    // slack = μ/20, h = μ (self-scaling thresholds, no tuning constants
    // smuggled in as floats). A one-sided page test as a pure integer
    // recurrence — the q233 sorted-group fold; oracle steps it as a
    // recursive CTE. Output: every (series, day) with its statistic and
    // alarm flag — the pager stream for slow regressions.
    QueryDef("q282_cusum",
      s"""WITH RECURSIVE ${dailyCentsSql(materialized = true)},
        |mu AS MATERIALIZED (SELECT event_type, CAST(sum(y) // count(*) AS BIGINT) AS mu
        |       FROM d GROUP BY event_type),
        |r AS MATERIALIZED (SELECT d.event_type, d.day, d.y, mu.mu,
        |        row_number() OVER (PARTITION BY d.event_type
        |          ORDER BY d.day) AS rn
        |      FROM d JOIN mu USING (event_type)),
        |rec(event_type, rn, day, y, mu, s) AS (
        |  SELECT event_type, rn, day, y, mu,
        |         greatest(CAST(0 AS BIGINT), y - mu - mu // 20)
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn, r.day, r.y, r.mu,
        |         greatest(CAST(0 AS BIGINT),
        |                  rec.s + (r.y - r.mu - r.mu // 20))
        |  FROM r JOIN rec ON r.event_type = rec.event_type
        |                 AND r.rn = rec.rn + 1)
        |SELECT event_type, CAST(day AS BIGINT) AS day, y AS y_cents,
        |       CAST(s AS BIGINT) AS cusum_cents, s > mu AS alarm
        |FROM rec ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import s.implicits._
      val daily = dailyCents(Tables.events(s, d))
      val mu = daily.groupBy("event_type")
        .agg(expr("sum(y) div count(*)").as("mu"))
      daily.join(mu, "event_type")
        .select(col("event_type"), col("day"), col("y"), col("mu"))
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          var st = 0L
          rows.map { case (_, day, y, m) =>
            st = math.max(0L, st + (y - m - m / 20))
            (k, day, y, st, st > m)
          }
        }
        .toDF("event_type", "day", "y_cents", "cusum_cents", "alarm")
        .orderBy("event_type", "day")
    },

    // Markov removal-effect attribution — the data-driven alternative to
    // q93's positional rules (Anderl et al.'s marketing staple): user
    // journeys truncated at first purchase feed a START/channel transition
    // matrix; conversion probability from START solves the absorption
    // system, and each channel's credit is its REMOVAL EFFECT — how much
    // conversion drops when the channel is turned off (removal = pinning
    // the channel's absorption value to 0, which redirects its inbound
    // mass to LOST — so all the solves share ONE matrix, masked). The
    // solve is a FIXED 16-round fixed-point iteration with 1e-9 snapping —
    // stated as such, deterministic whether or not converged (the q229
    // driver-exact playbook; the k×k matrix is statistics). The channel
    // set is DATA-DRIVEN — every non-START transient state gets a removal
    // solve (r7 verdict missing #4), so a new channel value in the data
    // shows up with no code change. Oracle replays the census and runs
    // all masked chains as ONE mask-parallel step sequence.
    QueryDef("q281_markov_attribution", AttributionSql.sql) { (s, d) =>
      import s.implicits._
      def r9(x: Double): Double =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      def e9(x: Double): Long = BigDecimal(x * 1000000000d)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val fp = ev.where(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("us").as("pus"), col("event_id").as("pid"))
      val kept = ev.join(fp, Seq("user_id"), "left")
        .where(col("event_type") =!= "purchase" &&
          (col("pus").isNull || col("us") < col("pus") ||
            (col("us") === col("pus") && col("event_id") < col("pid"))))
        .select(col("user_id"), col("event_type"), col("us"), col("event_id"),
          col("pus").isNotNull.as("conv"))
        .persist() // three transition branches + the no-kept anti-join
      val seq = kept.select(col("user_id"), col("event_type"), col("conv"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("user_id")).as("nk"),
        lead("event_type", 1).over(w).as("nxt"))
      val tr = seq.where(col("rn") === 1)
        .select(lit("START").as("f"), col("event_type").as("t"))
        .unionByName(seq.where(col("nxt").isNotNull)
          .select(col("event_type").as("f"), col("nxt").as("t")))
        .unionByName(seq.where(col("rn") === col("nk"))
          .select(col("event_type").as("f"),
            when(col("conv"), "CONV").otherwise("LOST").as("t")))
        .unionByName(fp.join(kept.select("user_id").distinct(),
            Seq("user_id"), "left_anti")
          .select(lit("START").as("f"), lit("CONV").as("t")))
      // the transition census is k² statistics — collected like q276's
      val cnt = tr.groupBy("f", "t").agg(count(lit(1)).as("c")).collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      val states = cnt.keys.map(_._1).toSeq.distinct.sorted.toArray
      val nT = states.length
      val ix = states.zipWithIndex.toMap
      val rsum = states.map(st =>
        cnt.collect { case ((f, _), c) if f == st => c }.sum)
      def pE6(f: Int, tn: String): Long =
        cnt.getOrElse((states(f), tn), 0L) * 1000000L / rsum(f)
      val m = Array.tabulate(nT, nT)((i, j) =>
        pE6(i, states(j)).toDouble / 1000000)
      val b = Array.tabulate(nT)(i => pE6(i, "CONV").toDouble / 1000000)
      def absorb(mask: Int): Double = {
        var a = Array.fill(nT)(0.0)
        for (_ <- 0 until AttributionSql.Rounds) {
          a = Array.tabulate(nT) { i =>
            if (i == mask) 0.0
            else {
              var acc = 0.0
              var j = 0
              while (j < nT) { acc += m(i)(j) * a(j); j += 1 }
              r9(acc + b(i))
            }
          }
        }
        a(ix("START"))
      }
      val base = absorb(-1)
      // data-driven channel set: every transient state except START (each
      // journey's last kept event emits f = its type, so any channel with a
      // kept event IS an f-state) — a new channel value in the data gets a
      // removal row with no code change, on both engines
      val channels = states.filterNot(_ == "START").toSeq
      val rows = channels.map { c =>
        val rm = absorb(ix(c))
        val ppm =
          if (base == 0) 0L
          else BigDecimal((base - rm) / base * 1000000d)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
        (c, e9(base), e9(rm), ppm)
      }
      rows.toDF("channel", "conv_e9", "removed_e9", "removal_ppm")
        .orderBy("channel")
    },

    // Kaplan–Meier survival estimator — the STATISTICAL survival curve
    // next to q07's threshold-sweep namesake (the reference's flagship
    // output family, completed with censoring): time from a user's first
    // activity to first PURCHASE, administratively censored at a 7-day
    // horizon — a user converting later (or never) contributes at-risk
    // time through day 7 but no event, the distinction naive conversion
    // rates get wrong. S(t) = Π_{u ≤ t} (n_u − d_u)/n_u runs as an
    // all-integer ppm product recurrence (S ← S·(n−d) div n, truncating
    // on both engines) over the ascending duration axis — a k-row series,
    // folded by the q233 sorted-group shape with one constant key; the
    // oracle steps the same recurrence as a recursive CTE. Output: the
    // at-risk/event/survival table every time-to-conversion analysis
    // draws.
    QueryDef("q280_kaplan_meier",
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |u AS (SELECT user_id, min(day) AS f FROM e GROUP BY user_id),
        |p AS (SELECT user_id, min(day) AS pd FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id),
        |s AS (SELECT u.user_id,
        |        CASE WHEN p.pd IS NOT NULL AND p.pd - u.f <= 7
        |             THEN p.pd - u.f ELSE 7 END AS dur,
        |        CASE WHEN p.pd IS NOT NULL AND p.pd - u.f <= 7
        |             THEN 0 ELSE 1 END AS censored
        |      FROM u LEFT JOIN p USING (user_id)),
        |ev AS (SELECT dur, CAST(count(*) AS BIGINT) AS d
        |       FROM s WHERE censored = 0 GROUP BY dur),
        |risk AS (SELECT ev.dur, ev.d,
        |           (SELECT CAST(count(*) AS BIGINT) FROM s
        |            WHERE s.dur >= ev.dur) AS n_risk
        |         FROM ev),
        |r AS MATERIALIZED (SELECT dur, d, n_risk,
        |        row_number() OVER (ORDER BY dur) AS rn FROM risk),
        |km(rn, dur, d, n_risk, s_ppm) AS (
        |  SELECT rn, dur, d, n_risk,
        |         CAST(1000000 * (n_risk - d) // n_risk AS BIGINT)
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.dur, r.d, r.n_risk,
        |         km.s_ppm * (r.n_risk - r.d) // r.n_risk
        |  FROM r JOIN km ON r.rn = km.rn + 1)
        |SELECT CAST(dur AS BIGINT) AS duration_days, n_risk, d,
        |       CAST(s_ppm AS BIGINT) AS survival_ppm
        |FROM km ORDER BY duration_days""".stripMargin) { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .persist() // first-activity and first-purchase censuses
      val u = e.groupBy("user_id").agg(min("day").as("f"))
      val p = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("pd"))
      val conv = col("pd").isNotNull && col("pd") - col("f") <= 7
      val sdf = u.join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          when(conv, col("pd") - col("f")).otherwise(7L).as("dur"),
          when(conv, 0L).otherwise(1L).as("censored"))
        .persist() // event census + at-risk census
      val ev = sdf.where(col("censored") === 0)
        .groupBy("dur").agg(count(lit(1)).as("d"))
      val durs = sdf.select(col("dur").as("rdur"))
      // at-risk = users with duration ≥ t: a range join on the k-row
      // duration axis (events × durations, both tiny censuses)
      val risk = ev.join(durs, col("rdur") >= col("dur"))
        .groupBy("dur", "d").agg(count(lit(1)).as("n_risk"))
        .as[(Long, Long, Long)]
      risk.groupByKey(_ => 0)
        .flatMapSortedGroups(col("dur")) { (_, rows) =>
          var sPpm = 1000000L
          rows.map { case (dur, dd, n) =>
            sPpm = sPpm * (n - dd) / n
            (dur, n, dd, sPpm)
          }
        }
        .toDF("duration_days", "n_risk", "d", "survival_ppm")
        .orderBy("duration_days")
    },

    // Sketch-based audience overlap — the set operation HLL does NOT
    // support natively: intersection. |A∩B| is derived by
    // inclusion–exclusion over three mergeable estimates (est(A) + est(B)
    // − est(A∪B)) — the standard move for "returning users" / audience-
    // overlap dashboards when A and B live on different machines and only
    // sketches travel. A and B are the first/second halves of the event
    // calendar (the split day derives from the data, so both engines build
    // identical literals). The exact side needs NO join either: exact
    // |A∩B| = |A| + |B| − |A∪B| over three COUNT DISTINCTs. Contract
    // (q54/q211 rule): the sketch estimate must land within 15% OF THE
    // UNION — inclusion–exclusion compounds the error of three estimates
    // scaled by the union size, not the intersection, so that is the
    // honest statable bound. Scale: sketches are O(2^lgK) bytes per side,
    // one pass, map-side mergeable — the exact side is the audit cost.
    QueryDef("q231_hll_intersect",
      """WITH act AS (SELECT DISTINCT user_id,
        |               epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT CAST(min(day) AS BIGINT) AS d0,
        |             CAST(max(day) AS BIGINT) AS d1 FROM act),
        |s AS (SELECT CASE WHEN day < (g.d0 + g.d1 + 1) // 2 THEN 'a'
        |             ELSE 'b' END AS side, user_id
        |      FROM act, g),
        |c AS (SELECT
        |        CAST(count(DISTINCT CASE WHEN side = 'a' THEN user_id END)
        |          AS BIGINT) AS n_a,
        |        CAST(count(DISTINCT CASE WHEN side = 'b' THEN user_id END)
        |          AS BIGINT) AS n_b,
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_union
        |      FROM s)
        |SELECT n_a, n_b, n_union, n_a + n_b - n_union AS n_intersect,
        |       TRUE AS within_bound
        |FROM c""".stripMargin) { (s, d) =>
      val act = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val g = act.agg(min("day").as("d0"), max("day").as("d1"))
      val sides = act.crossJoin(broadcast(g))
        .select(col("user_id"),
          when(col("day") < expr("(d0 + d1 + 1) div 2"), lit("a"))
            .otherwise(lit("b")).as("side"))
        .persist() // one relation feeds the exact census and the sketches
      val ex = sides.agg(
        countDistinct(when(col("side") === "a", col("user_id"))).as("n_a"),
        countDistinct(when(col("side") === "b", col("user_id"))).as("n_b"),
        countDistinct(col("user_id")).as("n_union"))
      val sk = sides.groupBy("side")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .persist() // per-side estimates + the union estimate
      val perSide = sk.select(col("side"),
        expr("hll_sketch_estimate(sk)").as("e"))
      val estSides = perSide.agg(
        max(when(col("side") === "a", col("e"))).as("est_a"),
        max(when(col("side") === "b", col("e"))).as("est_b"))
      val estU = sk.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_u"))
      ex.crossJoin(broadcast(estSides)).crossJoin(broadcast(estU))
        .select(col("n_a"), col("n_b"), col("n_union"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_intersect"),
          (abs(col("est_a") + col("est_b") - col("est_u")
            - (col("n_a") + col("n_b") - col("n_union"))).cast("double")
            <= lit(0.15) * col("n_union")).as("within_bound"))
    },

    // Retention triangle — the full (cohort week × week age) matrix behind
    // every retention curve, generalizing q78's cohort bucketing: users
    // cohort by FIRST-activity week, and each (user, active week) pair
    // lands one count at its cohort's age. Two keyed aggregates (first-week
    // per user, then the distinct (user, week) census joined back) — exact
    // integers, cohorts normalized to 0-base so both engines emit identical
    // literals whatever the epoch offset.
    QueryDef("q214_retention_triangle",
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
        |           FROM events),
        |f AS (SELECT user_id, CAST(min(wk) AS BIGINT) AS cw
        |      FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cw, e.wk - f.cw AS age
        |      FROM e JOIN f USING (user_id)),
        |w0 AS (SELECT CAST(min(cw) AS BIGINT) AS base FROM f)
        |SELECT cw - base AS cohort, CAST(age AS BIGINT) AS age,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a, w0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
      val f = e.groupBy("user_id").agg(min("wk").as("cw"))
      val a = e.join(f, "user_id")
        .select(col("user_id"), col("cw"), (col("wk") - col("cw")).as("age"))
        .distinct()
      val w0 = f.agg(min("cw").as("base"))
      a.crossJoin(broadcast(w0))
        .groupBy((col("cw") - col("base")).as("cohort"), col("age"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "age")
    },

    // Conversion-latency distribution — "how long from last view to
    // purchase": each purchase takes its NEAREST preceding view within the
    // hour (min latency over q183's interval-join pairs, one keyed
    // aggregate per purchase), then the latency distribution summarizes as
    // count, exact-integer mean and exact percentiles. The per-purchase
    // min is what makes the metric well-defined when several views precede
    // one purchase. Integer microseconds end to end; the two percentile
    // outputs are the q58-proven quantile parity.
    QueryDef("q221_conversion_latency",
      """WITH v AS (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT p.event_id, CAST(min(p.p_us - v.v_us) AS BIGINT) AS lat
        |      FROM p JOIN v ON p.user_id = v.user_id
        |       AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 3600000000
        |      GROUP BY p.event_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(sum(lat) // count(*) AS BIGINT) AS mean_lat_us,
        |       round(quantile_cont(lat, 0.5), 6) AS p50_lat_us,
        |       round(quantile_cont(lat, 0.9), 6) AS p90_lat_us
        |FROM j""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("vu"), unix_micros(col("ts")).as("v_us"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id"),
          unix_micros(col("ts")).as("p_us"))
      p.join(v, col("pu") === col("vu")
          && col("v_us") <= col("p_us")
          && col("v_us") >= col("p_us") - 3600000000L)
        .groupBy("event_id").agg(min(col("p_us") - col("v_us")).as("lat"))
        .agg(count(lit(1)).as("n_conversions"),
          expr("sum(lat) div count(*)").as("mean_lat_us"),
          round(expr("percentile(lat, 0.5)"), 6).as("p50_lat_us"),
          round(expr("percentile(lat, 0.9)"), 6).as("p90_lat_us"))
    },

    // Mann–Whitney U rank-sum test — the NONPARAMETRIC arm comparison q243's
    // proportion z-test can't give: does arm A's purchase-value DISTRIBUTION
    // stochastically dominate arm B's, with no normality assumption on the
    // skewed values? Ranks never materialize per row: the value CENSUS
    // (count + arm-A count per distinct cent value) carries everything —
    // the doubled average rank of value x is 2·(#smaller) + n_x + 1, so
    // 2·R_A is one census-weighted sum and the tie correction Σ(t³−t) is a
    // census aggregate too. One equi-shuffle over the data, then windows
    // and sums over the statistics-sized census (the q304 posture). The
    // z denominator uses the tie-corrected variance; both engines evaluate
    // the identical double expression on identical BIGINT census sums
    // (the q243 posture), with the all-values-tied degenerate stated as
    // z = 0 on both.
    QueryDef("q321_mann_whitney",
      s"""WITH p AS (
         |  SELECT (${graft.functions.Hashes.mulHashSql("user_id", 97)}) % 2
         |           AS arm,
         |         CAST(round(value * 100, 0) AS BIGINT) AS x
         |  FROM events WHERE event_type = 'purchase'),
         |census AS (
         |  SELECT x, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS na
         |  FROM p GROUP BY x),
         |ranked AS (
         |  SELECT x, n, na,
         |         2 * coalesce(sum(n) OVER (ORDER BY x
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           + n + 1 AS ar2
         |  FROM census),
         |agg AS (
         |  SELECT CAST(sum(na) AS BIGINT) AS n_a,
         |         CAST(sum(n) - sum(na) AS BIGINT) AS n_b,
         |         CAST(sum(na * ar2) AS BIGINT) AS r2_a,
         |         CAST(sum(n * n * n - n) AS BIGINT) AS tie_t
         |  FROM ranked),
         |u AS (
         |  SELECT n_a, n_b, r2_a, tie_t,
         |         r2_a - n_a * (n_a + 1) AS u2_a,
         |         n_a + n_b AS nt
         |  FROM agg),
         |z AS (
         |  SELECT n_a, n_b, r2_a, u2_a, tie_t,
         |         (CAST(n_a AS DOUBLE) * n_b / 12)
         |           * ((nt + 1) - CAST(tie_t AS DOUBLE) / (nt * (nt - 1)))
         |           AS var_u,
         |         CAST(u2_a - n_a * n_b AS DOUBLE) / 2 AS dev
         |  FROM u)
         |SELECT n_a, n_b, r2_a, u2_a, tie_t,
         |       CAST(round(CASE WHEN var_u <= 0 THEN CAST(0 AS DOUBLE)
         |                       ELSE dev / sqrt(var_u) END * 1000000, 0)
         |            AS BIGINT) AS z_e6
         |FROM z""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      val p = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select((Hashes.mulHash(col("user_id"), 97) % 2).as("arm"),
          round(col("value") * 100, 0).cast("long").as("x"))
      val census = p.groupBy("x").agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"))
      // the exclusive prefix sum over the value census runs through the
      // two-pass zip (x is the groupBy key, hence unique — a total order);
      // the zip's exclusive form emits 0 for the first row, exactly the
      // oracle's coalesce(sum(...) OVER (... 1 PRECEDING), 0)
      val ranked = graft.operators.PrefixSum
        .cumsum(census, Seq(col("x")), "n", inclusive = false,
          sumName = "cum_n")
        .select(col("n"), col("na"),
          (lit(2L) * col("cum_n") + col("n") + 1L).as("ar2"))
      val agg = ranked.agg(
        sum("na").as("n_a"),
        (sum("n") - sum("na")).as("n_b"),
        sum(col("na") * col("ar2")).as("r2_a"),
        sum(col("n") * col("n") * col("n") - col("n")).as("tie_t"))
      val u = agg.select(col("n_a"), col("n_b"), col("r2_a"), col("tie_t"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
        (col("n_a") + col("n_b")).as("nt"))
      val varU = (col("n_a").cast("double") * col("n_b") / 12) *
        ((col("nt") + 1L) - col("tie_t").cast("double")
          / (col("nt") * (col("nt") - 1L)))
      val dev = (col("u2_a") - col("n_a") * col("n_b")).cast("double") / 2
      u.select(col("n_a"), col("n_b"), col("r2_a"), col("u2_a"), col("tie_t"),
        round(when(varU <= 0, lit(0.0)).otherwise(dev / sqrt(varU))
          * 1000000, 0).cast("long").as("z_e6"))
    },

    // Difference-in-differences — the workhorse causal estimator when
    // treatment wasn't randomized but a pre-period exists: the treatment
    // effect is (post−pre change in the treated arm) MINUS (post−pre
    // change in the control arm), so any shared time trend cancels. The
    // pre/post boundary is the midpoint of the observed time range (a
    // broadcast 1-row census — both engines derive the identical literal
    // from the data, the q83 posture); cells are exact integer (count,
    // cent-sum) aggregates in ONE pass of conditional sums, and only the
    // final four means enter a double expression evaluated identically on
    // both engines (q243 posture). Degenerate empty cells state DiD = 0.
    QueryDef("q331_diff_in_diff", {
      import graft.functions.Hashes
      s"""WITH bounds AS (
         |  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
         |         CAST(max(epoch_us(ts)) AS BIGINT) AS hi FROM events),
         |p AS (
         |  SELECT (${Hashes.mulHashSql("user_id", 43)}) % 2 AS arm,
         |         CASE WHEN epoch_us(ts) * 2 >= lo + hi THEN 1 ELSE 0 END
         |           AS post,
         |         CAST(round(value * 100, 0) AS BIGINT) AS v
         |  FROM events CROSS JOIN bounds WHERE event_type = 'purchase'),
         |c AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
         |    CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_t_pre,
         |    CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
         |    CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_t_post,
         |    CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
         |    CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN v ELSE 0 END) AS BIGINT) AS s_c_pre,
         |    CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
         |    CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN v ELSE 0 END) AS BIGINT) AS s_c_post
         |  FROM p)
         |SELECT n_t_pre, s_t_pre, n_t_post, s_t_post,
         |       n_c_pre, s_c_pre, n_c_post, s_c_post,
         |       CASE WHEN n_t_pre = 0 OR n_t_post = 0
         |                 OR n_c_pre = 0 OR n_c_post = 0
         |            THEN CAST(0 AS BIGINT)
         |            ELSE CAST(round(
         |              ((CAST(s_t_post AS DOUBLE) / n_t_post
         |                - CAST(s_t_pre AS DOUBLE) / n_t_pre)
         |               - (CAST(s_c_post AS DOUBLE) / n_c_post
         |                  - CAST(s_c_pre AS DOUBLE) / n_c_pre))
         |              * 10000, 0) AS BIGINT)
         |       END AS did_e4_cents
         |FROM c""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val bounds = broadcast(Tables.events(s, d)
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")))
      val p = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .crossJoin(bounds)
        .select((Hashes.mulHash(col("user_id"), 43) % 2).as("arm"),
          when(unix_micros(col("ts")) * 2 >= col("lo") + col("hi"), 1L)
            .otherwise(0L).as("post"),
          round(col("value") * 100, 0).cast("long").as("v"))
      def cell(a: Int, po: Int, what: org.apache.spark.sql.Column,
               name: String) =
        sum(when(col("arm") === a && col("post") === po, what)
          .otherwise(0L)).as(name)
      val c = p.agg(
        cell(1, 0, lit(1L), "n_t_pre"), cell(1, 0, col("v"), "s_t_pre"),
        cell(1, 1, lit(1L), "n_t_post"), cell(1, 1, col("v"), "s_t_post"),
        cell(0, 0, lit(1L), "n_c_pre"), cell(0, 0, col("v"), "s_c_pre"),
        cell(0, 1, lit(1L), "n_c_post"), cell(0, 1, col("v"), "s_c_post"))
      val did = (col("s_t_post").cast("double") / col("n_t_post")
        - col("s_t_pre").cast("double") / col("n_t_pre")) -
        (col("s_c_post").cast("double") / col("n_c_post")
          - col("s_c_pre").cast("double") / col("n_c_pre"))
      c.select(col("n_t_pre"), col("s_t_pre"), col("n_t_post"),
        col("s_t_post"), col("n_c_pre"), col("s_c_pre"), col("n_c_post"),
        col("s_c_post"),
        when(col("n_t_pre") === 0 || col("n_t_post") === 0
          || col("n_c_pre") === 0 || col("n_c_post") === 0, lit(0L))
          .otherwise(round(did * 10000, 0).cast("long")).as("did_e4_cents"))
    },

    // SPRT — Wald's sequential probability-ratio test, the always-valid
    // alternative to q243's fixed-horizon z-test: walk the event stream in
    // time order, add ln(p₁/p₀) per success (purchase) and ln(q₁/q₀) per
    // failure, and STOP the moment the cumulative log-likelihood ratio
    // exits ±ln((1−β)/α) — the test that lets an experiment end as early
    // as the evidence allows, with error rates guaranteed at any stopping
    // time. Steps are ONE-TIME Scala-computed 1e-6 integer literals
    // interpolated identically into both engines (the LSH-plane posture —
    // no cross-engine libm in the data path), so the walk is an exact
    // integer cumsum window; the first boundary crossing is a min-
    // aggregate over crossing rows. H₀ p=0.2 vs H₁ p=0.3 at α=β=0.05.
    QueryDef("q334_sprt", {
      val sStep = math.round(math.log(0.3 / 0.2) * 1e6) // success: +405465
      val fStep = math.round(math.log(0.7 / 0.8) * 1e6) // failure: −133531
      val bound = math.round(math.log(19.0) * 1e6) // ln((1−.05)/.05)
      s"""WITH t AS (
         |  SELECT CASE WHEN event_type = 'purchase'
         |              THEN CAST($sStep AS BIGINT)
         |              ELSE CAST($fStep AS BIGINT) END AS step,
         |         epoch_us(ts) AS us, event_id
         |  FROM events),
         |walk AS (
         |  SELECT row_number() OVER (ORDER BY us, event_id) AS rn,
         |         sum(step) OVER (ORDER BY us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS llr
         |  FROM t),
         |crossing AS (
         |  SELECT rn, llr FROM walk
         |  WHERE llr >= $bound OR llr <= -$bound),
         |firstx AS (
         |  SELECT rn, llr FROM crossing ORDER BY rn LIMIT 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM t)
         |SELECT n.n_events,
         |       CAST(coalesce(f.rn, 0) AS BIGINT) AS stop_at,
         |       CAST(coalesce(f.llr, 0) AS BIGINT) AS llr_at_stop,
         |       CASE WHEN f.rn IS NULL THEN 'continue'
         |            WHEN f.llr >= $bound THEN 'accept_h1'
         |            ELSE 'accept_h0' END AS decision
         |FROM n LEFT JOIN firstx f ON true""".stripMargin
    }) { (s, d) =>
      val sStep = math.round(math.log(0.3 / 0.2) * 1e6)
      val fStep = math.round(math.log(0.7 / 0.8) * 1e6)
      val bound = math.round(math.log(19.0) * 1e6)
      val t = Tables.events(s, d).select(
        when(col("event_type") === "purchase", lit(sStep))
          .otherwise(lit(fStep)).as("step"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      // The LLR walk is an associative prefix sum over the FULL event
      // stream (row-scale), so it runs as the two-pass PrefixSum zip
      // (range-partition → census → offset + local cumsum) instead of a
      // partition-less window funneling every event through one task —
      // the oracle keeps the plain `sum(step) OVER (ORDER BY us, event_id)`
      // because the total order + integer addition make the strategies
      // bit-identical (round-13 fix; asserted window-free in PlanSpec's
      // partition-less-window sweep). rn rides the same census.
      val walk = graft.operators.PrefixSum.cumsum(t,
          Seq(col("us"), col("event_id")), "step",
          inclusive = true, sumName = "llr", rnName = Some("rn"))
        .select("rn", "llr")
      val firstx = walk
        .where(col("llr") >= bound || col("llr") <= -bound)
        .orderBy("rn").limit(1)
      val n = t.agg(count(lit(1)).as("n_events"))
      n.crossJoin(broadcast(firstx.select(col("rn"), col("llr"))))
        .unionByName( // LEFT JOIN ON true semantics when no crossing exists
          n.crossJoin(broadcast(firstx.agg(count(lit(1)).as("cx"))
            .where(col("cx") === 0)))
            .select(col("n_events"), lit(null).cast("long").as("rn"),
              lit(null).cast("long").as("llr")))
        .select(col("n_events"),
          coalesce(col("rn"), lit(0L)).as("stop_at"),
          coalesce(col("llr"), lit(0L)).as("llr_at_stop"),
          when(col("rn").isNull, "continue")
            .when(col("llr") >= bound, "accept_h1")
            .otherwise("accept_h0").as("decision"))
    },

    // Next-event prediction accuracy — does conditioning on the PREVIOUS
    // event beat the majority guess? The Markov argmax predictor (per
    // previous type, the most frequent successor in the TRAIN period;
    // ties alphabetical) is graded on held-out transitions against the
    // unconditional majority baseline — the supervised evaluation q276's
    // stationary analysis and q204's path census stop short of. The
    // temporal split is the observed midpoint (q331's boundary census —
    // training strictly precedes the test period, the q258 leakage
    // discipline); transitions are per-user lead() pairs that never span
    // the boundary. All counts exact; accuracies in integer ppm.
    QueryDef("q349_next_event_acc",
      """WITH bounds AS (
        |  SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS lo,
        |         CAST(max(epoch_us(ts)) AS BIGINT) AS hi FROM events),
        |e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |         CASE WHEN epoch_us(ts) * 2 >= lo + hi THEN 1 ELSE 0 END
        |           AS post
        |  FROM events CROSS JOIN bounds),
        |tr AS (
        |  SELECT event_type AS prev,
        |         lead(event_type) OVER (PARTITION BY user_id, post
        |           ORDER BY us, event_id) AS nxt,
        |         post
        |  FROM e),
        |model AS (
        |  SELECT prev, nxt AS pred FROM (
        |    SELECT prev, nxt, row_number() OVER (PARTITION BY prev
        |      ORDER BY count(*) DESC, nxt) AS rn
        |    FROM tr WHERE post = 0 AND nxt IS NOT NULL
        |    GROUP BY prev, nxt) t WHERE rn = 1),
        |maj AS (
        |  SELECT nxt AS pred FROM (
        |    SELECT nxt, row_number() OVER (ORDER BY count(*) DESC, nxt)
        |      AS rn
        |    FROM tr WHERE post = 0 AND nxt IS NOT NULL GROUP BY nxt) t
        |  WHERE rn = 1),
        |tst AS (SELECT prev, nxt FROM tr WHERE post = 1 AND nxt IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_test,
        |       CAST(sum(CASE WHEN m.pred = tst.nxt THEN 1 ELSE 0 END)
        |            AS BIGINT) AS correct_markov,
        |       CAST(sum(CASE WHEN m.pred = tst.nxt THEN 1 ELSE 0 END)
        |            AS BIGINT) * 1000000 // count(*) AS acc_markov_ppm,
        |       CAST(sum(CASE WHEN maj.pred = tst.nxt THEN 1 ELSE 0 END)
        |            AS BIGINT) AS correct_majority,
        |       CAST(sum(CASE WHEN maj.pred = tst.nxt THEN 1 ELSE 0 END)
        |            AS BIGINT) * 1000000 // count(*) AS acc_majority_ppm
        |FROM tst JOIN model m ON m.prev = tst.prev CROSS JOIN maj""".stripMargin) { (s, d) =>
      val bounds = broadcast(Tables.events(s, d)
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")))
      val e = Tables.events(s, d).crossJoin(bounds)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"),
          when(unix_micros(col("ts")) * 2 >= col("lo") + col("hi"), 1L)
            .otherwise(0L).as("post"))
      val wSeq = Window.partitionBy("user_id", "post")
        .orderBy("us", "event_id")
      val tr = e.select(col("event_type").as("prev"),
          lead("event_type", 1).over(wSeq).as("nxt"), col("post"))
        .persist() // model fit + majority + test
      val model = tr.where(col("post") === 0 && col("nxt").isNotNull)
        .groupBy("prev", "nxt").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(Window.partitionBy("prev")
          .orderBy(col("n").desc, col("nxt"))))
        .where(col("rn") === 1)
        .select(col("prev"), col("nxt").as("pred"))
      val maj = tr.where(col("post") === 0 && col("nxt").isNotNull)
        .groupBy("nxt").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n").desc, col("nxt"))))
        .where(col("rn") === 1)
        .select(col("nxt").as("mpred"))
      val tst = tr.where(col("post") === 1 && col("nxt").isNotNull)
      tst.join(broadcast(model), "prev").crossJoin(broadcast(maj))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("pred") === col("nxt"), 1L).otherwise(0L))
            .as("correct_markov"),
          expr("sum(CASE WHEN pred = nxt THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("acc_markov_ppm"),
          sum(when(col("mpred") === col("nxt"), 1L).otherwise(0L))
            .as("correct_majority"),
          expr("sum(CASE WHEN mpred = nxt THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("acc_majority_ppm"))
    },

    // Offline bandit replay (Li et al. WSDM 2011) — the counterfactual
    // policy evaluator: replay the logged event stream against an
    // ε-greedy policy over the 5 event-type arms, scoring ONLY the events
    // where the policy's choice matches the logged arm (the unbiased
    // replay estimator). Exploration is the declared salted hash of
    // (cohort, step) — the SURVEY §7.4.1 stand-in for the RNG — every 7th
    // step; exploitation is the empirical-mean argmax with a
    // smallest-index tie-break, compared as IEEE doubles s/n (identical
    // rationals on both engines — no cross-row float accumulation, the
    // state is integer counts). The recurrence carries O(arms) state per
    // cohort — the q233/q271 sorted-group shape: ONE exchange keyed by
    // cohort, secondary sort by time, sequential only within a cohort.
    // Output per cohort: events, match count, replay reward and CTR, and
    // the per-arm pull census showing exploitation concentrating.
    // Oracle note (round 13): the recurrence used to be a recursive CTE
    // advancing one event per iteration — ~15k iterations each re-joining
    // the 60k-row event census at sf0.01, which ran the oracle INTO the
    // 10 s budget under load (the exact r11 failure class the budget
    // exists to catch). It is now a list_reduce FOLD per cohort: one
    // ordered list, one O(N) lambda pass, no per-step join — the same
    // ε-greedy recurrence stated as the fold it is (the q95 list_prepend
    // init trick supplies the zero state).
    QueryDef("q358_bandit_replay", {
      import graft.functions.Hashes
      def sc(a: Int) =
        s"CASE WHEN acc.n$a = 0 THEN 1e18 " +
          s"ELSE CAST(acc.s$a AS DOUBLE) / acc.n$a END"
      val argmax =
        s"""CASE WHEN ${sc(0)} >= ${sc(1)} AND ${sc(0)} >= ${sc(2)}
           |       AND ${sc(0)} >= ${sc(3)} AND ${sc(0)} >= ${sc(4)} THEN 0
           |     WHEN ${sc(1)} >= ${sc(2)} AND ${sc(1)} >= ${sc(3)}
           |       AND ${sc(1)} >= ${sc(4)} THEN 1
           |     WHEN ${sc(2)} >= ${sc(3)} AND ${sc(2)} >= ${sc(4)} THEN 2
           |     WHEN ${sc(3)} >= ${sc(4)} THEN 3 ELSE 4 END""".stripMargin
      val ch = s"CASE WHEN x.rn % 7 = 0 THEN (${Hashes
        .mulHashSql("acc.coh * 1000003 + x.rn", 501)}) % 5 ELSE $argmax END"
      val packMatched = (0 to 4).map(a =>
        s"n$a := acc.n$a + CASE WHEN x.arm = $a THEN 1 ELSE 0 END, " +
          s"s$a := acc.s$a + CASE WHEN x.arm = $a THEN x.rew ELSE 0 END")
        .mkString(",\n         |        ").stripMargin
      val packSame = (0 to 4)
        .map(a => s"n$a := acc.n$a, s$a := acc.s$a").mkString(", ")
      val zeroState = (0 to 4)
        .map(a => s"n$a := CAST(0 AS BIGINT), s$a := CAST(0 AS BIGINT)")
        .mkString(", ")
      s"""WITH r AS MATERIALIZED (
         |  SELECT user_id % 4 AS coh,
         |    CAST(row_number() OVER (PARTITION BY user_id % 4
         |      ORDER BY ts, event_id) AS BIGINT) AS rn,
         |    CAST(CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
         |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END
         |      AS BIGINT) AS arm,
         |    CAST(CASE WHEN value >= 50 THEN 1 ELSE 0 END AS BIGINT) AS rew
         |  FROM events),
         |lst AS (
         |  SELECT coh, list(struct_pack(coh := coh, rn := rn, arm := arm,
         |           rew := rew, $zeroState,
         |           matches := CAST(0 AS BIGINT),
         |           rsum := CAST(0 AS BIGINT)) ORDER BY rn) AS evs
         |  FROM r GROUP BY coh),
         |folded AS (
         |  SELECT coh, list_reduce(
         |    list_prepend(struct_pack(coh := coh, rn := CAST(0 AS BIGINT),
         |      arm := CAST(-1 AS BIGINT), rew := CAST(0 AS BIGINT),
         |      $zeroState, matches := CAST(0 AS BIGINT),
         |      rsum := CAST(0 AS BIGINT)), evs),
         |    (acc, x) -> CASE WHEN ($ch) = x.arm THEN
         |      struct_pack(coh := acc.coh, rn := x.rn, arm := x.arm,
         |        rew := x.rew,
         |        $packMatched,
         |        matches := acc.matches + 1, rsum := acc.rsum + x.rew)
         |    ELSE
         |      struct_pack(coh := acc.coh, rn := x.rn, arm := x.arm,
         |        rew := x.rew, $packSame,
         |        matches := acc.matches, rsum := acc.rsum) END) AS st
         |  FROM lst)
         |SELECT coh, st.rn AS n_events, st.matches AS matches,
         |       st.rsum AS rsum,
         |       CAST(CASE WHEN st.matches > 0
         |            THEN st.rsum * 1000000 // st.matches
         |            ELSE 0 END AS BIGINT) AS ctr_ppm,
         |       st.n0 AS n0, st.n1 AS n1, st.n2 AS n2, st.n3 AS n3,
         |       st.n4 AS n4
         |FROM folded ORDER BY coh""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      import graft.functions.Hashes
      val rows = Tables.events(s, d)
        .select((col("user_id") % 4).as("coh"),
          when(col("event_type") === "click", 0)
            .when(col("event_type") === "error", 1)
            .when(col("event_type") === "purchase", 2)
            .when(col("event_type") === "signup", 3).otherwise(4).as("arm"),
          when(col("value") >= 50, 1L).otherwise(0L).as("rew"),
          col("ts"), col("event_id"))
        .as[(Long, Int, Long, java.sql.Timestamp, Long)]
      rows.groupByKey(_._1)
        .flatMapSortedGroups(col("ts"), col("event_id")) { (coh, it) =>
          val n = new Array[Long](5)
          val sArr = new Array[Long](5)
          var rn = 0L
          var matches = 0L
          var rsum = 0L
          it.foreach { case (_, arm, rew, _, _) =>
            rn += 1
            val ch =
              if (rn % 7 == 0)
                (Hashes.mulHashLong(coh * 1000003L + rn, 501) % 5).toInt
              else {
                var best = 0
                var i = 1
                while (i < 5) {
                  val scI = if (n(i) == 0) 1e18 else sArr(i).toDouble / n(i)
                  val scB =
                    if (n(best) == 0) 1e18 else sArr(best).toDouble / n(best)
                  if (scI > scB) best = i
                  i += 1
                }
                best
              }
            if (ch == arm) {
              matches += 1; rsum += rew
              n(ch) += 1; sArr(ch) += rew
            }
          }
          val ctr = if (matches > 0) rsum * 1000000L / matches else 0L
          Iterator((coh, rn, matches, rsum, ctr,
            n(0), n(1), n(2), n(3), n(4)))
        }
        .toDF("coh", "n_events", "matches", "rsum", "ctr_ppm",
          "n0", "n1", "n2", "n3", "n4")
        .orderBy("coh")
    },

    // Frequent sequential patterns — PrefixSpan's support-counting core
    // (Pei et al. ICDE 2001) over (user, day) sessions: how many sessions
    // contain event-type subsequence a→b (and a→b→c), with gaps allowed.
    // Subsequence EXISTENCE needs no pairwise position join: a→b holds iff
    // minpos(a) < maxpos(b) (covers a=b as count≥2), and a→b→c threads
    // through the EARLIEST b after the first a — so the whole mine is
    // per-session position censuses + session-keyed equi-joins with a ×k
    // type fan-out (k = event types, a constant), never a positions×
    // positions self-join. Pattern support is a ≤k³-key census. Output:
    // the top-10 2-patterns and top-10 3-patterns by session support.
    QueryDef("q355_seq_patterns",
      """WITH pos AS MATERIALIZED (
        |  SELECT user_id * 100000 + epoch_us(ts) // 86400000000 AS sess,
        |         event_type AS t,
        |         row_number() OVER (
        |           PARTITION BY user_id * 100000 + epoch_us(ts) // 86400000000
        |           ORDER BY ts, event_id) AS pos
        |  FROM events),
        |fa AS MATERIALIZED (
        |  SELECT sess, t, CAST(min(pos) AS BIGINT) AS fp,
        |         CAST(max(pos) AS BIGINT) AS lp
        |  FROM pos GROUP BY sess, t),
        |ns AS (SELECT CAST(count(DISTINCT sess) AS BIGINT) AS n_sessions
        |       FROM pos),
        |p2 AS (
        |  SELECT a.t AS ta, b.t AS tb,
        |         CAST(count(*) AS BIGINT) AS support
        |  FROM fa a JOIN fa b ON a.sess = b.sess AND a.fp < b.lp
        |  GROUP BY a.t, b.t),
        |mb AS MATERIALIZED (
        |  SELECT p.sess, a.t AS ta, p.t AS tb, min(p.pos) AS mp
        |  FROM pos p JOIN fa a ON a.sess = p.sess AND p.pos > a.fp
        |  GROUP BY p.sess, a.t, p.t),
        |p3 AS (
        |  SELECT mb.ta, mb.tb, c.t AS tc,
        |         CAST(count(*) AS BIGINT) AS support
        |  FROM mb JOIN fa c ON c.sess = mb.sess AND c.lp > mb.mp
        |  GROUP BY mb.ta, mb.tb, c.t),
        |ranked AS (
        |  SELECT ta || '>' || tb AS pat, support,
        |         row_number() OVER (ORDER BY support DESC, ta, tb) AS rn
        |  FROM p2
        |  UNION ALL
        |  SELECT ta || '>' || tb || '>' || tc AS pat, support,
        |         row_number() OVER (ORDER BY support DESC, ta, tb, tc) AS rn
        |  FROM p3)
        |SELECT pat, support, ns.n_sessions
        |FROM ranked, ns WHERE rn <= 10
        |ORDER BY support DESC, pat""".stripMargin) { (s, d) =>
      val sess = col("user_id") * 100000 + expr("unix_micros(ts) div 86400000000")
      val pos = Tables.events(s, d)
        .select(sess.as("sess"), col("event_type").as("t"), col("ts"),
          col("event_id"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("sess").orderBy("ts", "event_id")))
        .drop("ts", "event_id")
        .persist() // first/last census + the after-a minimum probe
      val fa = pos.groupBy("sess", "t")
        .agg(min("pos").cast("long").as("fp"), max("pos").cast("long").as("lp"))
        .persist() // p2 self-join + mb + p3 close
      val ns = pos.agg(countDistinct("sess").as("n_sessions"))
      val p2 = fa.as("a").join(fa.as("b"),
          col("a.sess") === col("b.sess") && col("a.fp") < col("b.lp"))
        .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
        .agg(count(lit(1)).as("support"))
      val mb = pos.as("p").join(fa.as("a"),
          col("a.sess") === col("p.sess") && col("p.pos") > col("a.fp"))
        .groupBy(col("p.sess").as("sess"), col("a.t").as("ta"),
          col("p.t").as("tb"))
        .agg(min("p.pos").as("mp"))
      val p3 = mb.join(fa.as("c"),
          col("c.sess") === mb("sess") && col("c.lp") > col("mp"))
        .groupBy(col("ta"), col("tb"), col("c.t").as("tc"))
        .agg(count(lit(1)).as("support"))
      val r2 = p2.select(concat(col("ta"), lit(">"), col("tb")).as("pat"),
          col("support"),
          row_number().over(
            Window.orderBy(col("support").desc, col("ta"), col("tb")))
            .as("rn"))
      val r3 = p3.select(
          concat(col("ta"), lit(">"), col("tb"), lit(">"), col("tc"))
            .as("pat"),
          col("support"),
          row_number().over(Window.orderBy(col("support").desc, col("ta"),
            col("tb"), col("tc"))).as("rn"))
      r2.unionAll(r3).where(col("rn") <= 10)
        .crossJoin(broadcast(ns))
        .select("pat", "support", "n_sessions")
        .orderBy(col("support").desc, col("pat"))
    },

    // Cox proportional-hazards score step (Cox 1972; Breslow ties) over
    // q280's signup→purchase survival frame, with per-user activity
    // (total event count) as the covariate — the regression companion to
    // the Kaplan–Meier curve: does activity level shift the conversion
    // hazard? At β=0 the partial-likelihood score U and information I
    // are RATIONAL in pure counts — risk-set moments S0/S1/S2 are
    // suffix sums over the ≤8-row duration census (one window over a
    // census, not data), so both engines compute exact integers until
    // the single stated division, and β̂ = U/I is the one-step Newton
    // estimate from zero. 128-bit intermediates (DECIMAL(38) / HUGEINT)
    // because d·(S2·S0−S1²)·1e6 overflows int64 at sf0.1. Scale shape:
    // two user-keyed aggregates + an 8-row census pipeline — the q280
    // exchanges exactly, nothing new at 100 TB. Output: the per-event-
    // time score decomposition plus the global β̂ (e6), positive here —
    // more-active users convert faster, the sanity direction.
    QueryDef("q368_cox_score",
      """WITH e AS (SELECT user_id, event_type,
        |             epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, min(day) AS f FROM e GROUP BY user_id),
        |p AS (SELECT user_id, min(day) AS pd FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id),
        |x AS (SELECT user_id, CAST(count(*) AS BIGINT) AS xv
        |      FROM e GROUP BY user_id),
        |s AS (SELECT u.user_id,
        |        CASE WHEN p.pd IS NOT NULL AND p.pd - u.f <= 7
        |             THEN p.pd - u.f ELSE 7 END AS dur,
        |        CASE WHEN p.pd IS NOT NULL AND p.pd - u.f <= 7
        |             THEN 0 ELSE 1 END AS censored, x.xv
        |      FROM u LEFT JOIN p USING (user_id) JOIN x USING (user_id)),
        |g AS (SELECT dur, CAST(count(*) AS BIGINT) AS cnt,
        |             CAST(sum(xv) AS BIGINT) AS sx,
        |             CAST(sum(xv * xv) AS HUGEINT) AS sx2
        |      FROM s GROUP BY dur),
        |r AS (SELECT dur,
        |        CAST(sum(cnt) OVER w AS BIGINT) AS s0,
        |        CAST(sum(sx) OVER w AS BIGINT) AS s1,
        |        CAST(sum(sx2) OVER w AS HUGEINT) AS s2
        |      FROM g WINDOW w AS (ORDER BY dur DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ev AS (SELECT dur, CAST(count(*) AS BIGINT) AS d,
        |              CAST(sum(xv) AS BIGINT) AS sxe
        |       FROM s WHERE censored = 0 GROUP BY dur),
        |terms AS (
        |  SELECT ev.dur, ev.d, r.s0,
        |         CAST(ev.sxe * 1000000
        |           - (ev.d * CAST(r.s1 AS HUGEINT) * 1000000 // r.s0)
        |           AS BIGINT) AS u_term_e6,
        |         CAST(ev.d * (r.s2 * r.s0 - CAST(r.s1 AS HUGEINT) * r.s1)
        |              * 1000000 // (CAST(r.s0 AS HUGEINT) * r.s0)
        |           AS BIGINT) AS i_term_e6
        |  FROM ev JOIN r USING (dur)),
        |tot AS (SELECT CAST(sum(u_term_e6) AS BIGINT) AS uu,
        |               CAST(sum(i_term_e6) AS BIGINT) AS ii FROM terms)
        |SELECT terms.dur AS duration_days, terms.d, terms.s0 AS n_risk,
        |       u_term_e6, i_term_e6,
        |       CAST(CAST(uu AS HUGEINT) * 1000000 // ii AS BIGINT) AS beta_e6
        |FROM terms, tot ORDER BY duration_days""".stripMargin) { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .persist() // first-activity, first-purchase, covariate censuses
      val u = e.groupBy("user_id").agg(min("day").as("f"))
      val p = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("pd"))
      val x = e.groupBy("user_id").agg(count(lit(1)).as("xv"))
      val conv = col("pd").isNotNull && col("pd") - col("f") <= 7
      val sdf = u.join(p, Seq("user_id"), "left").join(x, Seq("user_id"))
        .select(col("user_id"),
          when(conv, col("pd") - col("f")).otherwise(7L).as("dur"),
          when(conv, 0L).otherwise(1L).as("censored"), col("xv"))
        .persist() // duration census + event census
      val g = sdf.groupBy("dur").agg(count(lit(1)).as("cnt"),
        sum("xv").as("sx"), sum((col("xv") * col("xv")).cast(dec)).as("sx2"))
      val w = Window.orderBy(col("dur").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = g.select(col("dur"), sum("cnt").over(w).as("s0"),
        sum("sx").over(w).as("s1"), sum("sx2").over(w).as("s2"))
      val ev = sdf.where(col("censored") === 0)
        .groupBy("dur").agg(count(lit(1)).as("d"), sum("xv").as("sxe"))
      val terms = ev.join(r, Seq("dur"))
        .select(col("dur"), col("d"), col("s0"),
          (col("sxe") * 1000000L
            - expr("d * cast(s1 as decimal(38,0)) * 1000000 div s0"))
            .cast("long").as("u_term_e6"),
          expr("""cast(d * (s2 * s0 - cast(s1 as decimal(38,0)) * s1)
                 |* 1000000 div (cast(s0 as decimal(38,0)) * s0)
                 |as bigint)""".stripMargin.replace("\n", " "))
            .as("i_term_e6"))
        .persist() // totals census + output rows
      val tot = terms.agg(sum("u_term_e6").as("uu"), sum("i_term_e6").as("ii"))
      terms.crossJoin(broadcast(tot))
        .select(col("dur").as("duration_days"), col("d"),
          col("s0").as("n_risk"), col("u_term_e6"), col("i_term_e6"),
          expr("cast(cast(uu as decimal(38,0)) * 1000000 div ii as bigint)")
            .as("beta_e6"))
        .orderBy("duration_days")
    },

    // Offline changepoint detection by BINARY SEGMENTATION (Scott & Knott
    // 1974; the top-down complement of q282's sequential CUSUM): on the
    // hourly event-count series, choose the split maximizing the
    // between-segment SSE reduction G(k) = (S_L·n_R − S_R·n_L)²/(n_L·n_R·n),
    // then recurse once into each side — three changepoints from two
    // levels. G is stated as an EXACT scaled integer ((…)²·1e6 over the
    // integer denominator, 128-bit intermediates), so the argmax is an
    // integer comparison on both engines — no float ordering anywhere.
    // Scale shape: the series is an hour-keyed census (720 rows at
    // sf0.1); one window for prefix sums + three k-row argmax scans, all
    // downstream of a single events scan — the 100 TB cost is that scan.
    QueryDef("q369_binseg_changepoint",
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |             CAST(count(*) AS BIGINT) AS y
        |      FROM events GROUP BY hr),
        |hh AS (SELECT hr, y, row_number() OVER (ORDER BY hr) AS rn,
        |              CAST(sum(y) OVER (ORDER BY hr
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS BIGINT) AS cum
        |       FROM h),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nh,
        |             CAST(sum(y) AS BIGINT) AS st FROM h),
        |g1 AS (SELECT hh.rn, hh.hr,
        |         CAST(CAST((hh.cum * (n.nh - hh.rn)
        |                    - (n.st - hh.cum) * hh.rn) AS HUGEINT)
        |              * (hh.cum * (n.nh - hh.rn) - (n.st - hh.cum) * hh.rn)
        |              * 1000000
        |              // (hh.rn * (n.nh - hh.rn) * n.nh) AS BIGINT) AS gain
        |       FROM hh, n WHERE hh.rn < n.nh),
        |cp1 AS (SELECT rn, hr, gain FROM g1
        |        ORDER BY gain DESC, rn LIMIT 1),
        |gl AS (SELECT hh.rn, hh.hr,
        |         CAST(CAST((hh.cum * (cp1.rn - hh.rn)
        |                    - (cl.cum - hh.cum) * hh.rn) AS HUGEINT)
        |              * (hh.cum * (cp1.rn - hh.rn) - (cl.cum - hh.cum) * hh.rn)
        |              * 1000000
        |              // (hh.rn * (cp1.rn - hh.rn) * cp1.rn) AS BIGINT) AS gain
        |       FROM hh, cp1, (SELECT hh.cum FROM hh, cp1
        |                      WHERE hh.rn = cp1.rn) cl(cum)
        |       WHERE hh.rn < cp1.rn),
        |cpl AS (SELECT rn, hr, gain FROM gl ORDER BY gain DESC, rn LIMIT 1),
        |gr AS (SELECT hh.rn, hh.hr,
        |         CAST(CAST(((hh.cum - cl.cum) * (n.nh - hh.rn)
        |                    - (n.st - hh.cum) * (hh.rn - cp1.rn)) AS HUGEINT)
        |              * ((hh.cum - cl.cum) * (n.nh - hh.rn)
        |                 - (n.st - hh.cum) * (hh.rn - cp1.rn))
        |              * 1000000
        |              // ((hh.rn - cp1.rn) * (n.nh - hh.rn) * (n.nh - cp1.rn))
        |              AS BIGINT) AS gain
        |       FROM hh, n, cp1, (SELECT hh.cum FROM hh, cp1
        |                         WHERE hh.rn = cp1.rn) cl(cum)
        |       WHERE hh.rn > cp1.rn AND hh.rn < n.nh),
        |cpr AS (SELECT rn, hr, gain FROM gr ORDER BY gain DESC, rn LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS level, 'root' AS segment,
        |       CAST(rn AS BIGINT) AS split_pos, CAST(hr AS BIGINT) AS split_hr,
        |       gain AS gain_e6 FROM cp1
        |UNION ALL
        |SELECT 2, 'left', CAST(rn AS BIGINT), CAST(hr AS BIGINT), gain
        |FROM cpl
        |UNION ALL
        |SELECT 2, 'right', CAST(rn AS BIGINT), CAST(hr AS BIGINT), gain
        |FROM cpr
        |ORDER BY level, segment""".stripMargin) { (s, d) =>
      val h = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("y"))
      val hh = h.select(col("hr"), col("y"),
          row_number().over(Window.orderBy("hr")).as("rn"),
          sum("y").over(Window.orderBy("hr")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum"))
        .persist() // three candidate scans + the split-row lookups
      val n = hh.agg(max("rn").as("nh"), max("cum").as("st"))
      // exact integer gain: (num² · 1e6) div den via decimal div
      val g1 = hh.crossJoin(broadcast(n)).where(col("rn") < col("nh"))
        .select(col("rn"), col("hr"),
          expr("""cast(cast((cum * (nh - rn) - (st - cum) * rn) as decimal(38,0))
                 |* (cum * (nh - rn) - (st - cum) * rn) * 1000000
                 |div (rn * (nh - rn) * nh) as bigint)""".stripMargin
            .replace("\n", " ")).as("gain"))
      val cp1 = g1.orderBy(col("gain").desc, col("rn")).limit(1)
        .select(col("rn").as("crn"), col("hr").as("chr"),
          col("gain").as("cgain"))
        .persist() // both child scans read it
      val cl = hh.join(cp1, col("rn") === col("crn"))
        .select(col("cum").as("ccum"))
      val gl = hh.crossJoin(broadcast(cp1)).crossJoin(broadcast(cl))
        .where(col("rn") < col("crn"))
        .select(col("rn"), col("hr"),
          expr("""cast(cast((cum * (crn - rn) - (ccum - cum) * rn) as decimal(38,0))
                 |* (cum * (crn - rn) - (ccum - cum) * rn) * 1000000
                 |div (rn * (crn - rn) * crn) as bigint)""".stripMargin
            .replace("\n", " ")).as("gain"))
      val cpl = gl.orderBy(col("gain").desc, col("rn")).limit(1)
      val gr = hh.crossJoin(broadcast(n)).crossJoin(broadcast(cp1))
        .crossJoin(broadcast(cl))
        .where(col("rn") > col("crn") && col("rn") < col("nh"))
        .select(col("rn"), col("hr"),
          expr("""cast(cast(((cum - ccum) * (nh - rn) - (st - cum) * (rn - crn))
                 |as decimal(38,0))
                 |* ((cum - ccum) * (nh - rn) - (st - cum) * (rn - crn))
                 |* 1000000
                 |div ((rn - crn) * (nh - rn) * (nh - crn)) as bigint)"""
            .stripMargin.replace("\n", " ")).as("gain"))
      val cpr = gr.orderBy(col("gain").desc, col("rn")).limit(1)
      def row(lv: Int, seg: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(lv.toLong).as("level"), lit(seg).as("segment"),
          col(df.columns(0)).cast("long").as("split_pos"),
          col(df.columns(1)).cast("long").as("split_hr"),
          col(df.columns(2)).as("gain_e6"))
      row(1, "root", cp1).unionAll(row(2, "left", cpl))
        .unionAll(row(2, "right", cpr))
        .orderBy("level", "segment")
    },

    // Shapley-value channel attribution (Shapley 1953 applied to
    // marketing touchpoints — the coalition-game alternative to q281's
    // Markov removal effects): each user's PRE-CONVERSION touch set over
    // the four non-purchase channels is a 4-bit mask, the game value
    // v(S) is the empirical conversion rate of users with exactly that
    // touch set, and channel c's Shapley value sums the weighted
    // marginal gains v(S∪c)−v(S) over all 8 subsets not containing c
    // with the exact coalition weights |S|!(3−|S|)!/4! ∈ {6,2,2,6}/24.
    // The entire game lives on a 16-row subset census (generated axis,
    // absent subsets valued 0 by stated CASE); per-term doubles are
    // e9-quantized BEFORE the per-channel sum (float-summation-order
    // playbook), so φ is an exact integer. Scale shape: one user-keyed
    // aggregate → 16-row census → 32-row join; the 100 TB cost is the
    // single events scan, the game arithmetic is free.
    QueryDef("q375_shapley_attribution",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t
        |           FROM events),
        |p AS (SELECT user_id, min(t) AS pt FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id),
        |tch AS (SELECT e.user_id,
        |          max(CASE WHEN e.event_type = 'view'
        |                AND (p.pt IS NULL OR e.t < p.pt)
        |              THEN 1 ELSE 0 END) AS bv,
        |          max(CASE WHEN e.event_type = 'click'
        |                AND (p.pt IS NULL OR e.t < p.pt)
        |              THEN 1 ELSE 0 END) AS bc,
        |          max(CASE WHEN e.event_type = 'signup'
        |                AND (p.pt IS NULL OR e.t < p.pt)
        |              THEN 1 ELSE 0 END) AS bs,
        |          max(CASE WHEN e.event_type = 'error'
        |                AND (p.pt IS NULL OR e.t < p.pt)
        |              THEN 1 ELSE 0 END) AS be,
        |          max(CASE WHEN e.event_type = 'purchase'
        |              THEN 1 ELSE 0 END) AS conv
        |        FROM e LEFT JOIN p ON p.user_id = e.user_id
        |        GROUP BY e.user_id),
        |cen AS (SELECT bv + 2 * bc + 4 * bs + 8 * be AS st,
        |               CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(conv) AS BIGINT) AS c
        |        FROM tch GROUP BY 1),
        |ax AS (SELECT unnest(range(0, 16)) AS st),
        |v AS (SELECT ax.st, coalesce(cen.n, 0) AS n, coalesce(cen.c, 0) AS c
        |      FROM ax LEFT JOIN cen USING (st)),
        |ch(name, bit) AS (VALUES ('view', 1), ('click', 2), ('signup', 4),
        |                         ('error', 8)),
        |pairs AS (SELECT ch.name, bit_count(v0.st) AS ssize,
        |                 v0.n AS n0, v0.c AS c0, v1.n AS n1, v1.c AS c1
        |          FROM ch JOIN v v0 ON (v0.st & ch.bit) = 0
        |               JOIN v v1 ON v1.st = v0.st + ch.bit),
        |term AS (SELECT name,
        |           CAST(round(
        |             (CAST(CASE WHEN ssize = 0 OR ssize = 3 THEN 6
        |                   ELSE 2 END AS DOUBLE) / 24)
        |             * ((CASE WHEN n1 > 0 THEN CAST(c1 AS DOUBLE) / n1
        |                 ELSE 0 END)
        |                - (CASE WHEN n0 > 0 THEN CAST(c0 AS DOUBLE) / n0
        |                   ELSE 0 END)) * 1000000000, 0) AS BIGINT) AS t_e9
        |         FROM pairs)
        |SELECT name AS channel, CAST(sum(t_e9) AS BIGINT) AS phi_e9
        |FROM term GROUP BY name ORDER BY channel""".stripMargin) { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
      val p = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("t").as("pt"))
      def touched(ch: String) =
        max(when(col("event_type") === ch
          && (col("pt").isNull || col("t") < col("pt")), 1L).otherwise(0L))
      val tch = e.join(p, Seq("user_id"), "left")
        .groupBy("user_id")
        .agg(touched("view").as("bv"), touched("click").as("bc"),
          touched("signup").as("bs"), touched("error").as("be"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val cen = tch
        .groupBy((col("bv") + col("bc") * 2 + col("bs") * 4 + col("be") * 8)
          .as("st"))
        .agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val ax = s.range(0, 16).select(col("id").as("st"))
      val v = ax.join(cen, Seq("st"), "left")
        .select(col("st"), coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("c"), lit(0L)).as("c"))
        .persist() // both sides of the marginal-gain self-join
      val ch = Seq(("view", 1L), ("click", 2L), ("signup", 4L),
        ("error", 8L)).toDF("name", "bit")
      val pairs = broadcast(ch)
        .join(v.as("v0"), expr("(v0.st & bit) = 0"))
        .join(v.as("v1"), expr("v1.st = v0.st + bit"))
        .select(col("name"), bit_count(col("v0.st")).as("ssize"),
          col("v0.n").as("n0"), col("v0.c").as("c0"),
          col("v1.n").as("n1"), col("v1.c").as("c1"))
      pairs
        .select(col("name"), round(
          (when(col("ssize") === 0 || col("ssize") === 3, 6d).otherwise(2d)
            / 24d)
            * (when(col("n1") > 0, col("c1").cast("double") / col("n1"))
                .otherwise(0d)
              - when(col("n0") > 0, col("c0").cast("double") / col("n0"))
                .otherwise(0d)) * 1000000000L, 0).cast("long").as("t_e9"))
        .groupBy(col("name").as("channel"))
        .agg(sum("t_e9").as("phi_e9"))
        .orderBy("channel")
    },

    // Autocorrelation + partial autocorrelation — the ARIMA order-picking
    // diagnostic q271's Holt fit and q283's backtest were missing: ACF
    // says HOW persistent the daily-revenue series is at each lag, PACF
    // says which lags carry DIRECT (not inherited) signal — the
    // {ACF tails, PACF cuts at p} fingerprint is how an AR(p) order is
    // read off. All-integer formulation: devs are scaled n·y − S (exact,
    // no mean division), ρ_k = Σ dev·dev₊k / Σ dev² as an e9 integer
    // ratio of DECIMAL(38) co-moment sums, and PACF comes from the
    // Yule-Walker Toeplitz system solved by Cramer's rule — degree-3
    // polynomials in the e9 ρ's, still exact in 128-bit (e27 terms,
    // ×1e9 < 1e38). Scale shape: one day-grain rollup, one global-order
    // lead window over the DAY CENSUS (hundreds of rows, not events),
    // one 1-row co-moment aggregate — the scaler posture.
    QueryDef("q379_acf_pacf",
      s"""WITH ${dailyCentsSql(perType = false)},
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(y) AS BIGINT) AS s FROM d),
        |v AS (SELECT CAST(n * y - s AS HUGEINT) AS dev,
        |             lead(CAST(n * y - s AS HUGEINT), 1)
        |               OVER (ORDER BY day) AS d1,
        |             lead(CAST(n * y - s AS HUGEINT), 2)
        |               OVER (ORDER BY day) AS d2,
        |             lead(CAST(n * y - s AS HUGEINT), 3)
        |               OVER (ORDER BY day) AS d3,
        |             lead(CAST(n * y - s AS HUGEINT), 4)
        |               OVER (ORDER BY day) AS d4,
        |             lead(CAST(n * y - s AS HUGEINT), 5)
        |               OVER (ORDER BY day) AS d5
        |      FROM d, c),
        |a AS (SELECT sum(dev * dev) AS den,
        |             sum(dev * d1) AS m1, sum(dev * d2) AS m2,
        |             sum(dev * d3) AS m3, sum(dev * d4) AS m4,
        |             sum(dev * d5) AS m5
        |      FROM v),
        |r AS (SELECT CAST(m1 * 1000000000 // den AS HUGEINT) AS r1,
        |             CAST(m2 * 1000000000 // den AS HUGEINT) AS r2,
        |             CAST(m3 * 1000000000 // den AS HUGEINT) AS r3,
        |             CAST(m4 * 1000000000 // den AS BIGINT) AS r4,
        |             CAST(m5 * 1000000000 // den AS BIGINT) AS r5,
        |             CAST(1000000000 AS HUGEINT) AS ee
        |      FROM a)
        |SELECT CAST((SELECT n FROM c) AS BIGINT) AS n_days,
        |       CAST(r1 AS BIGINT) AS rho1_e9,
        |       CAST(r2 AS BIGINT) AS rho2_e9,
        |       CAST(r3 AS BIGINT) AS rho3_e9,
        |       r4 AS rho4_e9, r5 AS rho5_e9,
        |       CAST(r1 AS BIGINT) AS pacf1_e9,
        |       CAST((r2 * ee - r1 * r1) * ee
        |            // (ee * ee - r1 * r1) AS BIGINT) AS pacf2_e9,
        |       CAST((ee * ee * r3 - 2 * ee * r1 * r2
        |             - r1 * r1 * r3 + r1 * r2 * r2 + r1 * r1 * r1) * ee
        |            // (ee * ee * ee - 2 * ee * r1 * r1 - ee * r2 * r2
        |               + 2 * r1 * r1 * r2) AS BIGINT) AS pacf3_e9
        |FROM r""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dec = "decimal(38,0)"
      val daily = dailyCents(Tables.events(s, d), keys = Nil)
      val cen = daily.agg(count(lit(1)).as("n"), sum("y").as("s"))
      val w = Window.orderBy("day")
      val devs = daily.crossJoin(broadcast(cen))
        .select((col("n") * col("y") - col("s")).cast(dec).as("dev"),
          col("day"))
      val v = devs.select(col("dev"),
        lead("dev", 1).over(w).as("d1"), lead("dev", 2).over(w).as("d2"),
        lead("dev", 3).over(w).as("d3"), lead("dev", 4).over(w).as("d4"),
        lead("dev", 5).over(w).as("d5"))
      val a = v.agg(
        sum(col("dev") * col("dev")).as("den"),
        sum(col("dev") * col("d1")).as("m1"),
        sum(col("dev") * col("d2")).as("m2"),
        sum(col("dev") * col("d3")).as("m3"),
        sum(col("dev") * col("d4")).as("m4"),
        sum(col("dev") * col("d5")).as("m5"))
      val r = a.select(
        expr(s"cast(m1 * 1000000000 div den as $dec)").as("r1"),
        expr(s"cast(m2 * 1000000000 div den as $dec)").as("r2"),
        expr(s"cast(m3 * 1000000000 div den as $dec)").as("r3"),
        expr("cast(m4 * 1000000000 div den as bigint)").as("r4"),
        expr("cast(m5 * 1000000000 div den as bigint)").as("r5"),
        lit(1000000000L).cast(dec).as("ee"))
      r.crossJoin(broadcast(cen.select(col("n"))))
        .select(col("n").as("n_days"),
          col("r1").cast("long").as("rho1_e9"),
          col("r2").cast("long").as("rho2_e9"),
          col("r3").cast("long").as("rho3_e9"),
          col("r4").as("rho4_e9"), col("r5").as("rho5_e9"),
          col("r1").cast("long").as("pacf1_e9"),
          expr("""cast((r2 * ee - r1 * r1) * ee
                 |div (ee * ee - r1 * r1) as bigint)"""
            .stripMargin.replace("\n", " ")).as("pacf2_e9"),
          expr("""cast((ee * ee * r3 - 2 * ee * r1 * r2
                 |- r1 * r1 * r3 + r1 * r2 * r2 + r1 * r1 * r1) * ee
                 |div (ee * ee * ee - 2 * ee * r1 * r1 - ee * r2 * r2
                 |+ 2 * r1 * r1 * r2) as bigint)"""
            .stripMargin.replace("\n", " ")).as("pacf3_e9"))
    },

    // Streaming KMV sketch — the continuously-maintained distinct count:
    // q332's batch KMV aggregator re-run as transformWithState ValueState
    // (StatefulStreams.KmvStream holds the SAME bounded sorted array and
    // folds rows with the SAME reduce), drained over four micro-batches.
    // The claim: because KMV updates are commutative and idempotent, the
    // final streamed sketch equals the batch sketch BIT-FOR-BIT under any
    // micro-batch slicing — stream_eq_batch compares the raw arrays, and
    // the oracle replays the sketch content (k-min census) + estimator
    // exactly as q332. This is the dashboard posture at 100 TB: distinct
    // users per event type maintained in O(k) state per key, never a
    // shuffle of raw history.
    QueryDef("q383_stream_kmv", {
      import graft.functions.Hashes
      s"""WITH h AS (
         |  SELECT event_type, ${Hashes.mulHashSql("user_id", 71)} AS hv
         |  FROM events),
         |dh AS (SELECT DISTINCT event_type, hv FROM h),
         |r AS (
         |  SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type ORDER BY hv)
         |           AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS nd
         |  FROM dh),
         |mins AS (
         |  SELECT event_type, list(hv ORDER BY hv) AS kmins,
         |         max(nd) AS n_exact
         |  FROM r WHERE rn <= 64 GROUP BY event_type)
         |SELECT event_type, CAST(len(kmins) AS BIGINT) AS k_held,
         |       CAST(kmins[len(kmins)] AS BIGINT) AS h_k,
         |       CAST(kmins[1] AS BIGINT) AS h_1,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), kmins),
         |                        (a, b) -> a + b) AS BIGINT) AS kmins_sum,
         |       CAST(n_exact AS BIGINT) AS n_exact,
         |       CASE WHEN len(kmins) < 64 THEN CAST(len(kmins) AS BIGINT)
         |            ELSE CAST(63 AS BIGINT) * ${Hashes.Prime}
         |                 // kmins[len(kmins)]
         |       END AS kmv_est,
         |       TRUE AS stream_eq_batch
         |FROM mins ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      import graft.functions.{Hashes, KmvSketch}
      import graft.streaming.StatefulStreams
      val e = Tables.events(s, d)
        .select(col("event_type"),
          Hashes.mulHash(col("user_id"), 71).as("hv"))
        .persist() // feeds the landing write and the batch-parity sketch
      Scratch.run(s, "graft_kmv_q_", StatefulStreams.RocksDb) { root =>
        e.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new StructType()
            .add("event_type", StringType).add("hv", LongType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .as[(String, Long)]
          .groupByKey(_._1)
          .transformWithState(new StatefulStreams.KmvStream(64),
            TimeMode.None(), OutputMode.Update())
        // n is monotone per key → the max-n emission carries final state
        val wn = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("n").desc)
        val streamed = Drain.toMemory(stream.toDF("event_type", "n", "kmins"),
            s"$root/ckpt", "update")
          .withColumn("rk", row_number().over(wn))
          .where(col("rk") === 1)
          .select(col("event_type"), col("kmins").as("skmins"))
        val batch = e.groupBy("event_type")
          .agg(KmvSketch.kmv(64)(col("hv")).as("kmins"),
            countDistinct("hv").as("n_exact"))
        val est = when(size(col("kmins")) < 64,
          size(col("kmins")).cast("long"))
          .otherwise(expr(s"63 * ${Hashes.Prime}L div element_at(kmins, 64)"))
        batch.join(streamed, Seq("event_type"))
          .select(col("event_type"),
            size(col("kmins")).cast("long").as("k_held"),
            element_at(col("kmins"), size(col("kmins"))).as("h_k"),
            element_at(col("kmins"), 1).as("h_1"),
            aggregate(col("kmins"), lit(0L), (a, x) => a + x)
              .as("kmins_sum"),
            col("n_exact"), est.as("kmv_est"),
            (col("kmins") === col("skmins")).as("stream_eq_batch"))
          .orderBy("event_type")
          // ≤ |event_type| rows — materialize so the landing/checkpoint
          // tmpdir can be deleted NOW instead of via a shutdown hook that
          // accumulates per invocation and parks the data until JVM exit
          .localCheckpoint()
      }
    },

    // Streaming quantile sketch — q400's bottom-k rank sample maintained
    // CONTINUOUSLY (StatefulStreams.QSketchStream, the q383 KMV harness
    // verbatim): per event type, the 64 smallest-row-hash (hash, value)
    // pairs live in transformWithState ValueState and fold each
    // micro-batch with the batch Aggregator's own reduce. Bottom-k is
    // commutative and slicing-insensitive, so the streamed sketch — and
    // the median/p90 it answers — equals the batch sketch bit-for-bit
    // (stream_eq_batch compares the raw pair arrays). This is continuous
    // percentile monitoring at 100 TB: O(2k) longs of state per key,
    // never a shuffle or retention of raw history. Oracle replays the
    // sample content (h/x checksums) + both quantile estimates.
    QueryDef("q401_stream_quantiles", {
      import graft.functions.Hashes
      s"""WITH v AS (
         |  SELECT event_type,
         |         ${Hashes.mulHashSql("event_id", 101)} AS h,
         |         CAST(round(value * 100, 0) AS BIGINT) AS x
         |  FROM events),
         |s AS (SELECT event_type, h, x,
         |             row_number() OVER (PARTITION BY event_type
         |               ORDER BY h, x) AS rn
         |      FROM v),
         |samp AS (SELECT event_type,
         |                list(x ORDER BY x) AS xs,
         |                list(h ORDER BY h, x) AS hs,
         |                CAST(count(*) AS BIGINT) AS n_held
         |         FROM s WHERE rn <= 64 GROUP BY event_type)
         |SELECT event_type, n_held,
         |       CAST(hs[1] AS BIGINT) AS h_1,
         |       CAST(hs[len(hs)] AS BIGINT) AS h_k,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
         |                        (a, b) -> a + b) AS BIGINT) AS xs_sum,
         |       xs[CAST((50 * len(xs) + 99) // 100 AS INT)] AS p50_x,
         |       xs[CAST((90 * len(xs) + 99) // 100 AS INT)] AS p90_x,
         |       TRUE AS stream_eq_batch
         |FROM samp ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      import graft.functions.{Hashes, QuantileSketch}
      import graft.streaming.StatefulStreams
      val e = Tables.events(s, d)
        .select(col("event_type"),
          Hashes.mulHash(col("event_id"), 101).as("h"),
          round(col("value") * 100, 0).cast("long").as("x"))
        .persist() // feeds the landing write and the batch-parity sketch
      Scratch.run(s, "graft_qsk_q_", StatefulStreams.RocksDb) { root =>
        e.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new StructType().add("event_type", StringType)
            .add("h", LongType).add("x", LongType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new StatefulStreams.QSketchStream(64),
            TimeMode.None(), OutputMode.Update())
        // n is monotone per key → the max-n emission carries final state
        val wn = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("n").desc)
        val streamed = Drain.toMemory(stream.toDF("event_type", "n", "pairs"),
            s"$root/ckpt", "update")
          .withColumn("rk", row_number().over(wn))
          .where(col("rk") === 1)
          .select(col("event_type"), col("pairs").as("spairs"))
        val batch = e.groupBy("event_type")
          .agg(QuantileSketch.qsketch(64)(col("h"), col("x")).as("pairs"))
        // interleaved [h, x, …] → positional slices: h at even 0-based
        // lambda indices, x at odd; checksums keep hash order, but the
        // quantile estimates read the sampled VALUES sorted by value
        // (the q400 lesson — hash order is the sampling order, not the
        // value order)
        batch.join(streamed, Seq("event_type"))
          .withColumn("n_held", expr("CAST(size(pairs) AS BIGINT) div 2"))
          .withColumn("xs", expr(
            "array_sort(transform(filter(transform(pairs, " +
              "(v, i) -> named_struct('i', i, 'v', v)), p -> p.i % 2 = 1), " +
              "p -> p.v))"))
          .select(col("event_type"), col("n_held"),
            element_at(col("pairs"), 1).as("h_1"),
            element_at(col("pairs"),
              ((col("n_held") - 1) * 2 + 1).cast("int")).as("h_k"),
            aggregate(col("xs"), lit(0L), (a, x) => a + x).as("xs_sum"),
            element_at(col("xs"),
              expr("(50 * n_held + 99) div 100").cast("int")).as("p50_x"),
            element_at(col("xs"),
              expr("(90 * n_held + 99) div 100").cast("int")).as("p90_x"),
            (col("pairs") === col("spairs")).as("stream_eq_batch"))
          .orderBy("event_type")
          // ≤ |event_type| rows — materialize so the tmpdir deletes now
          // (see q383's note)
          .localCheckpoint()
      }
    },

    // CUSUM changepoint detection — the ops-monitoring primitive the
    // time-series family (q233 EWMA, q262 seasonal anomaly, q393 matrix
    // profile) was missing: WHERE did the level shift? Per event type,
    // the cumulative-sum statistic over the day census, computed in
    // EXACT integers by scaling out the mean division: S_t = n·cum_t −
    // t·total (n × the classic Σ(x_i − x̄) prefix sum, sign and argmax
    // preserved). The changepoint is the |S_t| argmax over interior days
    // (S_n ≡ 0 by construction), ties to the earliest day; pre/post
    // means are emitted as e6 ratios so the shift magnitude is part of
    // the checked output. Scale: one day-census groupBy, then windows
    // over ≤ days rows per key — nothing corpus-sized moves twice.
    QueryDef("q403_cusum_changepoint",
      """WITH day AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day, x,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY day) AS BIGINT) AS t,
        |         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day)
        |           AS BIGINT) AS cum
        |  FROM day),
        |tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS n_days
        |        FROM day GROUP BY 1),
        |s AS (SELECT c.event_type, c.day, c.t, c.cum, tot.total,
        |             tot.n_days, tot.n_days * c.cum - c.t * tot.total AS s_t
        |      FROM c JOIN tot USING (event_type)),
        |b AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(s_t) DESC, day) AS rk
        |      FROM s WHERE t < n_days)
        |SELECT event_type, day AS cp_day, t AS cp_t, n_days,
        |       abs(s_t) AS cusum_stat,
        |       cum * 1000000 // t AS pre_mean_e6,
        |       (total - cum) * 1000000 // (n_days - t) AS post_mean_e6
        |FROM b WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val day = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val c = day
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cum", sum("x").over(w))
      val tot = day.groupBy("event_type")
        .agg(sum("x").as("total"), count(lit(1)).as("n_days"))
      val rkw = Window.partitionBy("event_type")
        .orderBy(abs(col("s_t")).desc, col("day"))
      c.join(tot, "event_type")
        .withColumn("s_t", col("n_days") * col("cum") - col("t") * col("total"))
        .where(col("t") < col("n_days"))
        .withColumn("rk", row_number().over(rkw))
        .where(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          col("t").as("cp_t"), col("n_days"),
          abs(col("s_t")).as("cusum_stat"),
          expr("cum * 1000000 div t").as("pre_mean_e6"),
          expr("(total - cum) * 1000000 div (n_days - t)").as("post_mean_e6"))
        .orderBy("event_type")
    },

    // Page's CUSUM drift monitor — q403 finds WHERE a completed series
    // shifted (retrospective argmax); this is the SEQUENTIAL test that
    // raises the alarm while the series is still arriving (Page 1954,
    // the classic quickest-detection recurrence): S_t = max(0, S_{t-1} +
    // x_t − ref − slack), alarm when S_t clears the threshold. The
    // reference level is the first-15-observed-days mean per key (a
    // census, truncated integer division stated on both engines), slack
    // = ref/10, threshold = 3·ref. The recurrence is the q233
    // flatMapSortedGroups shape — one exchange, secondary sort, O(1)
    // state per key — with the oracle unrolled as the same recursive
    // CTE. Emits the full per-day trace so the alarm PATH, not just the
    // verdict, is hash-checked.
    QueryDef("q410_page_cusum",
      pageCusumSql) { (s, d) =>
      import s.implicits._
      pageCusumInput(s, d)
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          var st = 0L
          rows.map { case (_, day, x, refx) =>
            st = math.max(0L, st + x - refx - refx / 10)
            (k, day, x, refx, st, if (st > 3 * refx) 1L else 0L)
          }
        }
        .toDF("event_type", "day", "x", "refx", "s_cusum", "alarm")
        .orderBy("event_type", "day")
    },

    // Page's CUSUM, CONTINUOUSLY — q410's sequential drift monitor as an
    // always-on stream (StatefulStreams.PageCusum): one long of state per
    // series, the q256 ordered-wave harness (early calendar half drains
    // to a stop, late half resumes the same RocksDB checkpoint — order by
    // code, never by file pickup), the reference level precomputed as a
    // batch census and carried on each row. The oracle is q410's
    // recursive CTE VERBATIM — streamed ≡ batch is the shared-hash proof,
    // the q293/q266 contract applied to streaming state. This is the
    // production posture for drift alarms: the alarm fires mid-stream,
    // not in a nightly batch.
    QueryDef("q412_stream_cusum",
      pageCusumSql) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      import graft.streaming.StatefulStreams
      val daily = pageCusumInput(s, d)
        .persist() // wave split scans it twice
      val midDay = daily.agg(expr("(min(day) + max(day)) div 2"))
        .head().getLong(0)
      Scratch.run(s, "graft_scusum_q_", StatefulStreams.RocksDb) { root =>
        Drain.twoWaves(s"$root/landing", daily.where(col("day") <= midDay),
            daily.where(col("day") > midDay)) {
          val stream = s.readStream
            .schema(new StructType().add("event_type", StringType)
              .add("day", LongType).add("x", LongType)
              .add("refx", LongType))
            .parquet(s"$root/landing")
            .as[(String, Long, Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new StatefulStreams.PageCusum,
              TimeMode.None(), OutputMode.Append())
          Drain.toParquet(
            stream.toDF("event_type", "day", "x", "refx", "s_cusum", "alarm"),
            s"$root/out", s"$root/ckpt")
        }
        s.read.parquet(s"$root/out")
          .orderBy("event_type", "day")
          // the result READS $root/out lazily — materialize (day-census
          // sized) before the finally deletes the tmpdir
          .localCheckpoint()
      }
    },

    // Rolling-origin forecast backtest — the EVALUATION harness the
    // forecasting family (q233 EWMA, q271 Holt, q394 Holt–Winters) was
    // missing: which model should this series actually ship? One sorted
    // recurrence pass emits each day's (naive, EWMA, Holt) states; each
    // day's 1-step-ahead forecast joins the NEXT day's actual; MAE over
    // the last 10 origins per series ranks the models. Model selection
    // becomes a measured, hash-checked output instead of a default —
    // and the result is honest about this corpus (whichever wins, wins
    // by arithmetic both engines replay). Scale: the recurrence is the
    // q233 single-exchange shape; the eval join is rn = rn+1 within key.
    QueryDef("q415_forecast_backtest",
      s"""WITH RECURSIVE ${dailyCentsSql(materialized = true)},
        |r AS MATERIALIZED (SELECT event_type, day, y,
        |        CAST(row_number() OVER (PARTITION BY event_type
        |          ORDER BY day) AS BIGINT) AS rn
        |      FROM d),
        |rec(event_type, rn, day, y, s, l, b) AS (
        |  SELECT event_type, rn, day, y, y, y, CAST(0 AS BIGINT)
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn, r.day, r.y,
        |         (r.y + rec.s) // 2,
        |         (r.y + (rec.l + rec.b)) // 2,
        |         (((r.y + (rec.l + rec.b)) // 2 - rec.l) + rec.b) // 2
        |  FROM r JOIN rec ON r.event_type = rec.event_type
        |                 AND r.rn = rec.rn + 1),
        |n AS MATERIALIZED (SELECT event_type, max(rn) AS nmax FROM r GROUP BY 1),
        |pr AS MATERIALIZED (
        |  SELECT a.event_type, a.y, a.s, a.l, a.b, nx.y AS y_next
        |  FROM rec a
        |  JOIN rec nx ON nx.event_type = a.event_type
        |             AND nx.rn = a.rn + 1
        |  JOIN n ON n.event_type = a.event_type
        |  WHERE a.rn >= n.nmax - 10 AND a.rn < n.nmax),
        |e AS MATERIALIZED (
        |  SELECT event_type, 'ewma' AS model, abs(s - y_next) AS err
        |  FROM pr
        |  UNION ALL SELECT event_type, 'holt', abs(l + b - y_next) FROM pr
        |  UNION ALL SELECT event_type, 'naive', abs(y - y_next) FROM pr),
        |mae AS MATERIALIZED (SELECT event_type, model,
        |               CAST(sum(err) AS BIGINT) // count(*) AS mae_cents,
        |               CAST(count(*) AS BIGINT) AS n_origins
        |        FROM e GROUP BY 1, 2)
        |SELECT event_type, model, mae_cents, n_origins,
        |       CAST(row_number() OVER (PARTITION BY event_type
        |         ORDER BY mae_cents, model) AS BIGINT) AS rank
        |FROM mae ORDER BY event_type, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = dailyCents(Tables.events(s, d))
        .as[(String, Long, Long)]
      val st = daily.groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          var init = false
          var sEw = 0L
          var l = 0L
          var b = 0L
          var rn = 0L
          rows.map { case (_, day, y) =>
            rn += 1
            if (!init) { init = true; sEw = y; l = y; b = 0L }
            else {
              sEw = (y + sEw) / 2
              val lNew = (y + (l + b)) / 2
              b = ((lNew - l) + b) / 2
              l = lNew
            }
            (k, rn, day, y, sEw, l, b)
          }
        }
        .toDF("event_type", "rn", "day", "y", "s", "l", "b")
        .persist() // self-join rn+1 + the nmax census
      val n = st.groupBy("event_type").agg(max("rn").as("nmax"))
      val nx = st.select(col("event_type").as("et2"), col("rn").as("rn1"),
        col("y").as("y_next"))
      val e = st.join(nx,
          col("et2") === col("event_type") && col("rn1") === col("rn") + 1)
        .drop("et2")
        .join(n, "event_type")
        .where(col("rn") >= col("nmax") - 10 && col("rn") < col("nmax"))
        .select(col("event_type"),
          expr("stack(3, 'ewma', abs(s - y_next)," +
            " 'holt', abs(l + b - y_next)," +
            " 'naive', abs(y - y_next)) AS (model, err)"))
      val mae = e.groupBy("event_type", "model")
        .agg(expr("sum(err) div count(1)").as("mae_cents"),
          count(lit(1)).as("n_origins"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("mae_cents"), col("model"))
      mae.withColumn("rank", row_number().over(w).cast("long"))
        .orderBy("event_type", "rank")
    },

    // Windowed quantile monitoring + SKETCH-OF-SKETCHES — the q400
    // bottom-k sketch in its production posture: a per-(type, week)
    // sketch answers each window's median, and the ALL-TIME sketch is
    // re-aggregated FROM THE WINDOW SKETCHES' pairs — never from raw
    // rows again. Because bottom-k(∪ bottom-k's) = bottom-k(all), the
    // re-aggregated sketch must equal the direct global sketch
    // BIT-FOR-BIT, and `resketch_eq` carries that proof in the checked
    // output: the mergeability that makes 100 TB windowed percentile
    // dashboards one cheap rollup instead of a re-scan. Oracle replays
    // window ranks, the union re-rank, and the direct ranks.
    QueryDef("q416_windowed_quantiles", {
      import graft.functions.Hashes
      s"""WITH v AS (
         |  SELECT event_type,
         |         (epoch_us(ts) // 86400000000) // 7 AS week,
         |         ${Hashes.mulHashSql("event_id", 101)} AS h,
         |         CAST(round(value * 100, 0) AS BIGINT) AS x
         |  FROM events),
         |ws AS (SELECT event_type, week, h, x,
         |              row_number() OVER (PARTITION BY event_type, week
         |                ORDER BY h, x) AS rn
         |       FROM v),
         |wk AS (SELECT event_type, week,
         |              CAST(count(*) AS BIGINT) AS n_held,
         |              list(x ORDER BY x) AS xs
         |       FROM ws WHERE rn <= 64 GROUP BY 1, 2),
         |re AS (SELECT event_type, h, x,
         |              row_number() OVER (PARTITION BY event_type
         |                ORDER BY h, x) AS rn
         |       FROM ws WHERE rn <= 64),
         |gre AS (SELECT event_type, list(x ORDER BY h, x) AS rxs
         |        FROM re WHERE rn <= 64 GROUP BY 1),
         |gd AS (SELECT event_type, h, x,
         |              row_number() OVER (PARTITION BY event_type
         |                ORDER BY h, x) AS rn
         |       FROM v),
         |gds AS (SELECT event_type, list(x ORDER BY h, x) AS dxs,
         |               list(x ORDER BY x) AS sxs
         |        FROM gd WHERE rn <= 64 GROUP BY 1)
         |SELECT wk.event_type, CAST(wk.week AS BIGINT) AS week, wk.n_held,
         |       wk.xs[CAST((50 * len(wk.xs) + 99) // 100 AS INT)] AS p50_w,
         |       gds.sxs[CAST((50 * len(gds.sxs) + 99) // 100 AS INT)]
         |         AS p50_g,
         |       (gre.rxs = gds.dxs) AS resketch_eq
         |FROM wk JOIN gre USING (event_type) JOIN gds USING (event_type)
         |ORDER BY event_type, week""".stripMargin
    }) { (s, d) =>
      import graft.functions.{Hashes, QuantileSketch}
      val sortedXs =
        "array_sort(transform(filter(transform(pairs, " +
          "(v, i) -> named_struct('i', i, 'v', v)), p -> p.i % 2 = 1), " +
          "p -> p.v))"
      val v = Tables.events(s, d).select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) div 7").as("week"),
        Hashes.mulHash(col("event_id"), 101).as("h"),
        round(col("value") * 100, 0).cast("long").as("x"))
        .persist() // window sketches + the direct global sketch
      val wsk = v.groupBy("event_type", "week")
        .agg(QuantileSketch.qsketch(64)(col("h"), col("x")).as("pairs"))
        .persist() // per-window output + the re-aggregation source
      val wq = wsk
        .withColumn("n_held", expr("CAST(size(pairs) AS BIGINT) div 2"))
        .withColumn("xs", expr(sortedXs))
        .select(col("event_type"), col("week"), col("n_held"),
          element_at(col("xs"),
            expr("(50 * size(xs) + 99) div 100").cast("int")).as("p50_w"))
      // sketch-of-sketches: window pairs explode back to (h, x) rows and
      // re-aggregate — rows touched: Σ windows × k, never the corpus
      val gre = wsk
        .select(col("event_type"),
          explode(expr("sequence(0, size(pairs) div 2 - 1)")).as("j"),
          col("pairs"))
        .select(col("event_type"),
          element_at(col("pairs"), (col("j") * 2 + 1).cast("int")).as("h"),
          element_at(col("pairs"), (col("j") * 2 + 2).cast("int")).as("x"))
        .groupBy("event_type")
        .agg(QuantileSketch.qsketch(64)(col("h"), col("x")).as("rpairs"))
      val gd = v.groupBy("event_type")
        .agg(QuantileSketch.qsketch(64)(col("h"), col("x")).as("pairs"))
        .withColumn("sxs", expr(sortedXs))
        .select(col("event_type"), col("pairs").as("dpairs"),
          element_at(col("sxs"),
            expr("(50 * size(sxs) + 99) div 100").cast("int")).as("p50_g"))
      wq.join(gre, "event_type").join(gd, "event_type")
        .select(col("event_type"), col("week"), col("n_held"),
          col("p50_w"), col("p50_g"),
          (col("rpairs") === col("dpairs")).as("resketch_eq"))
        .orderBy("event_type", "week")
    },

    // UCB1 bandit replay (Auer, Cesa-Bianchi & Fischer 2002) — offline
    // policy evaluation for the explore/exploit family: replay the UCB1
    // arm-selection rule over the daily reward grid (arms = event types,
    // reward = the day's e6-normalized volume) and price its cumulative
    // regret against the best-in-hindsight arm. The sequential fold is a
    // bounded-day census (≤ 30 steps over a 5-arm grid — the
    // scaler/BpeLearn driver-gated posture; the DATA work is one day
    // census); the oracle unrolls the identical recurrence as a
    // recursive CTE with the 10-column arm state and the argmax repeated
    // per update column. Transcendental contract: the UCB bonus
    // √(2·ln t / n) is ONE double chain per (step, arm), e6-quantized
    // HALF_UP before any comparison; means are truncated integer
    // divisions; argmax ties break to the lower arm index.
    QueryDef("q417_ucb1_replay", {
      def scI(i: Int) =
        s"""(rec.s$i // greatest(rec.n$i, 1)
           | + CAST(round(sqrt(2.0 * ln(CAST(gw.t AS DOUBLE))
           |   / CAST(greatest(rec.n$i, 1) AS DOUBLE)) * 1000000, 0)
           |   AS BIGINT))""".stripMargin.replace("\n", " ")
      val cExpr =
        s"""CASE WHEN rec.t + 1 <= 5 THEN rec.t + 1
           | WHEN ${scI(1)} >= greatest(${scI(2)}, ${scI(3)}, ${scI(4)}, ${scI(5)}) THEN 1
           | WHEN ${scI(2)} >= greatest(${scI(3)}, ${scI(4)}, ${scI(5)}) THEN 2
           | WHEN ${scI(3)} >= greatest(${scI(4)}, ${scI(5)}) THEN 3
           | WHEN ${scI(4)} >= ${scI(5)} THEN 4 ELSE 5 END"""
          .stripMargin.replace("\n", " ")
      def nUpd(i: Int) = s"rec.n$i + CASE WHEN ($cExpr) = $i THEN 1 ELSE 0 END"
      def sUpd(i: Int) =
        s"rec.s$i + CASE WHEN ($cExpr) = $i THEN gw.r$i ELSE 0 END"
      s"""WITH RECURSIVE ${dailyCentsSql(out = "r", materialized = true)},
         |fd AS MATERIALIZED (SELECT day FROM d GROUP BY day HAVING count(*) = 5),
         |arms AS MATERIALIZED (SELECT event_type,
         |                CAST(row_number() OVER (ORDER BY event_type)
         |                  AS BIGINT) AS arm
         |         FROM (SELECT DISTINCT event_type FROM d)),
         |tg AS MATERIALIZED (SELECT day, CAST(row_number() OVER (ORDER BY day)
         |         AS BIGINT) AS t FROM fd),
         |grid AS MATERIALIZED (SELECT tg.t, tg.day, arms.arm, d.r
         |         FROM d JOIN tg USING (day) JOIN arms USING (event_type)
         |         WHERE tg.t <= 30),
         |mx AS MATERIALIZED (SELECT CAST(max(r) AS BIGINT) AS rmax FROM grid),
         |g AS MATERIALIZED (SELECT t, day, arm,
         |             r * 1000000 // (SELECT rmax FROM mx) AS re6
         |      FROM grid),
         |gw AS MATERIALIZED (SELECT t, max(day) AS day,
         |              CAST(max(CASE WHEN arm = 1 THEN re6 END) AS BIGINT) AS r1,
         |              CAST(max(CASE WHEN arm = 2 THEN re6 END) AS BIGINT) AS r2,
         |              CAST(max(CASE WHEN arm = 3 THEN re6 END) AS BIGINT) AS r3,
         |              CAST(max(CASE WHEN arm = 4 THEN re6 END) AS BIGINT) AS r4,
         |              CAST(max(CASE WHEN arm = 5 THEN re6 END) AS BIGINT) AS r5
         |       FROM g GROUP BY t),
         |best AS MATERIALIZED (SELECT arm AS barm FROM (
         |           SELECT arm, sum(re6) AS s FROM g GROUP BY arm
         |           ORDER BY s DESC, arm LIMIT 1)),
         |rec(t, chosen, n1, n2, n3, n4, n5, s1, s2, s3, s4, s5) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION ALL
         |  SELECT gw.t, $cExpr,
         |         ${nUpd(1)}, ${nUpd(2)}, ${nUpd(3)}, ${nUpd(4)}, ${nUpd(5)},
         |         ${sUpd(1)}, ${sUpd(2)}, ${sUpd(3)}, ${sUpd(4)}, ${sUpd(5)}
         |  FROM rec JOIN gw ON gw.t = rec.t + 1),
         |steps AS MATERIALIZED (
         |  SELECT rec.t, gw.day, rec.chosen,
         |         CASE rec.chosen WHEN 1 THEN gw.r1 WHEN 2 THEN gw.r2
         |              WHEN 3 THEN gw.r3 WHEN 4 THEN gw.r4
         |              ELSE gw.r5 END AS r_chosen_e6,
         |         CASE (SELECT barm FROM best)
         |              WHEN 1 THEN gw.r1 WHEN 2 THEN gw.r2
         |              WHEN 3 THEN gw.r3 WHEN 4 THEN gw.r4
         |              ELSE gw.r5 END AS r_best_e6
         |  FROM rec JOIN gw ON gw.t = rec.t
         |  WHERE rec.t >= 1)
         |SELECT t, CAST(day AS BIGINT) AS day, chosen AS chosen_arm,
         |       r_chosen_e6,
         |       CAST(sum(r_best_e6 - r_chosen_e6)
         |            OVER (ORDER BY t) AS BIGINT) AS cum_regret_e6,
         |       (SELECT barm FROM best) AS best_arm
         |FROM steps ORDER BY t""".stripMargin
    }) { (s, d) =>
      val daily = dailyCents(Tables.events(s, d), "r")
        .persist() // full-day census + arm index + grid
      val fd = daily.groupBy("day").agg(count(lit(1)).as("c"))
        .where(col("c") === 5).select("day")
      val arms = daily.select("event_type").distinct()
        .orderBy("event_type").collect().map(_.getString(0))
        .zipWithIndex.map { case (e, i) => (e, i + 1L) }
      val armDf = {
        import s.implicits._
        arms.toSeq.toDF("event_type", "arm")
      }
      val tg = {
        import org.apache.spark.sql.expressions.Window
        fd.withColumn("t",
          row_number().over(Window.orderBy("day")).cast("long"))
      }
      // the bounded (t, arm, reward) census — ≤ 30 × 5 cells
      val grid = daily.join(tg, "day").join(broadcast(armDf), "event_type")
        .where(col("t") <= 30)
        .select(col("t"), col("day"), col("arm"), col("r"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      val rmax = grid.map(_._4).max
      val re6 = grid.map { case (t, day, a, r) =>
        ((t, a), (day, r * 1000000L / rmax))
      }.toMap
      val tMax = grid.map(_._1).max
      val best = (1L to 5L)
        .map(a => (a, (1L to tMax).map(t => re6((t, a))._2).sum))
        .maxBy { case (a, s0) => (s0, -a) }._1
      def bonus(t: Long, n: Long): Long =
        java.math.BigDecimal.valueOf(
          math.sqrt(2.0 * math.log(t.toDouble) / n.toDouble) * 1000000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      val n = Array.fill(6)(0L)
      val sm = Array.fill(6)(0L)
      var cum = 0L
      val out = (1L to tMax).map { t =>
        val c =
          if (t <= 5) t
          else (1 to 5).map { i =>
            (sm(i) / math.max(n(i), 1L)
              + bonus(t, math.max(n(i), 1L)), -i)
          }.zipWithIndex.maxBy(_._1)._2 + 1
        val (day, rc) = re6((t, c.toLong))
        n(c.toInt) += 1
        sm(c.toInt) += rc
        cum += re6((t, best))._2 - rc
        (t, day, c.toLong, rc, cum, best)
      }
      import s.implicits._
      out.toDF("t", "day", "chosen_arm", "r_chosen_e6", "cum_regret_e6",
        "best_arm").orderBy("t")
    },

    // Off-policy evaluation: IPS and SNIPS (Horvitz–Thompson / Swaminathan
    // & Joachims) — q417's counterfactual twin: production logs record ONE
    // arm's reward per step (the arm a uniform logging policy happened to
    // pull — hash-derived, so both engines replay the log); the value of
    // EVERY arm is then estimated from that censored log by importance
    // weighting: IPS = Σ 1{a_t=b}·r_t·(1/p_log) / T, SNIPS normalizes by
    // the realized weight mass. The full grid is known here, so both
    // estimators are priced against the true mean — the bias/variance
    // trade (IPS unbiased but weight-noisy, SNIPS biased but stable) is a
    // measured column, not prose. All integer: rewards e6-normalized,
    // weights exact 5s, truncated division stated on both engines.
    QueryDef("q418_ips_offpolicy", {
      import graft.functions.Hashes
      s"""WITH ${dailyCentsSql(out = "r")},
         |fd AS (SELECT day FROM d GROUP BY day HAVING count(*) = 5),
         |arms AS (SELECT event_type,
         |                CAST(row_number() OVER (ORDER BY event_type)
         |                  AS BIGINT) AS arm
         |         FROM (SELECT DISTINCT event_type FROM d)),
         |tg AS (SELECT day, CAST(row_number() OVER (ORDER BY day)
         |         AS BIGINT) AS t FROM fd),
         |mx AS (SELECT CAST(max(r) AS BIGINT) AS rmax FROM d
         |       WHERE day IN (SELECT day FROM fd)),
         |g AS (SELECT tg.t, arms.arm,
         |             d.r * 1000000 // (SELECT rmax FROM mx) AS re6
         |      FROM d JOIN tg USING (day) JOIN arms USING (event_type)),
         |log AS (SELECT t, (${Hashes.mulHashSql("t", 23)}) % 5 + 1
         |          AS logged_arm FROM (SELECT DISTINCT t FROM g)),
         |est AS (
         |  SELECT g.arm AS target,
         |         CAST(count(*) AS BIGINT) AS n_steps,
         |         CAST(sum(CASE WHEN log.logged_arm = g.arm THEN 1 ELSE 0
         |                  END) AS BIGINT) AS n_match,
         |         CAST(sum(CASE WHEN log.logged_arm = g.arm THEN 5 * g.re6
         |                  ELSE 0 END) AS BIGINT) AS wsum,
         |         CAST(sum(g.re6) AS BIGINT) AS rsum
         |  FROM g JOIN log ON log.t = g.t
         |  GROUP BY g.arm)
         |SELECT target AS arm, n_steps, n_match,
         |       wsum // n_steps AS ips_e6,
         |       CASE WHEN n_match = 0 THEN 0
         |            ELSE wsum // (5 * n_match) END AS snips_e6,
         |       rsum // n_steps AS true_mean_e6,
         |       abs(wsum // n_steps - rsum // n_steps) AS ips_err_e6,
         |       abs(CASE WHEN n_match = 0 THEN 0
         |                ELSE wsum // (5 * n_match) END
         |           - rsum // n_steps) AS snips_err_e6
         |FROM est ORDER BY arm""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      import org.apache.spark.sql.expressions.Window
      val daily = dailyCents(Tables.events(s, d), "r")
        .persist() // full-day census + arm index + grid + rmax
      val fd = daily.groupBy("day").agg(count(lit(1)).as("c"))
        .where(col("c") === 5).select("day")
      val armW = Window.orderBy("event_type")
      val arms = daily.select("event_type").distinct()
        .withColumn("arm", row_number().over(armW).cast("long"))
      val tg = fd.withColumn("t",
        row_number().over(Window.orderBy("day")).cast("long"))
      val rmax = daily.join(fd, "day").agg(max("r")).head().getLong(0)
      val g = daily.join(tg, "day").join(broadcast(arms), "event_type")
        .select(col("t"), col("arm"),
          expr(s"r * 1000000L div ${rmax}L").as("re6"))
      val logDf = g.select("t").distinct()
        .select(col("t"), (Hashes.mulHash(col("t"), 23) % 5 + 1)
          .as("logged_arm"))
      g.join(logDf, "t")
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("logged_arm") === col("arm"), 1L).otherwise(0L))
            .as("n_match"),
          sum(when(col("logged_arm") === col("arm"), expr("5 * re6"))
            .otherwise(0L)).as("wsum"),
          sum("re6").as("rsum"))
        .select(col("arm"), col("n_steps"), col("n_match"),
          expr("wsum div n_steps").as("ips_e6"),
          expr("CASE WHEN n_match = 0 THEN 0L" +
            " ELSE wsum div (5 * n_match) END").as("snips_e6"),
          expr("rsum div n_steps").as("true_mean_e6"),
          expr("abs(wsum div n_steps - rsum div n_steps)").as("ips_err_e6"),
          expr("abs(CASE WHEN n_match = 0 THEN 0L" +
            " ELSE wsum div (5 * n_match) END - rsum div n_steps)")
            .as("snips_err_e6"))
        .orderBy("arm")
    },

    // Kaplan–Meier survival with CENSORING (Kaplan & Meier 1958) — the
    // user-lifetime complement to q07's event-level survival curve, and
    // the estimator naive churn analysis gets wrong: a user who never
    // went quiet hasn't churned, they're CENSORED, and dropping or
    // death-counting them biases retention down. Churn = the FIRST
    // inactivity gap > 2 days (the corpus spans ~30 days of uniformly
    // active users, so the churn horizon scales to the window — a
    // 14-day gap never occurs; lifetime runs first event → last event
    // before that gap); users with no such gap are censored at their
    // observed span. S(t) folds Π(1 − d_t/n_t) as an e6-integer product
    // recurrence over the bounded duration census (per-step truncated
    // division stated on both engines; the oracle unrolls the same
    // recurrence as a recursive CTE). Scale: one user-day census + one
    // lag window; everything after is the duration census.
    QueryDef("q424_kaplan_meier",
      """WITH RECURSIVE ud AS MATERIALIZED (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |lg AS MATERIALIZED (SELECT user_id, day,
        |              lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |                AS pday
        |       FROM ud),
        |u AS MATERIALIZED (SELECT user_id, min(day) AS d0, max(day) AS d1,
        |             min(CASE WHEN day - pday > 2 THEN pday END)
        |               AS gap_end
        |      FROM lg GROUP BY user_id),
        |lt AS MATERIALIZED (SELECT user_id,
        |              coalesce(gap_end, d1) - d0 AS dur,
        |              CASE WHEN gap_end IS NULL THEN 1 ELSE 0 END
        |                AS censored
        |       FROM u),
        |cen AS MATERIALIZED (SELECT dur AS t, CAST(count(*) AS BIGINT) AS n_at,
        |               CAST(sum(1 - censored) AS BIGINT) AS d
        |        FROM lt GROUP BY dur),
        |grid AS MATERIALIZED (SELECT t, n_at, d,
        |                CAST(row_number() OVER (ORDER BY t) AS BIGINT)
        |                  AS rn,
        |                CAST(sum(n_at) OVER (ORDER BY t DESC) AS BIGINT)
        |                  AS n_risk
        |         FROM cen),
        |rec(rn, t, n_risk, d, s_e6) AS (
        |  SELECT rn, t, n_risk, d,
        |         1000000 * (n_risk - d) // n_risk
        |  FROM grid WHERE rn = 1
        |  UNION ALL
        |  SELECT g.rn, g.t, g.n_risk, g.d,
        |         rec.s_e6 * (g.n_risk - g.d) // g.n_risk
        |  FROM grid g JOIN rec ON g.rn = rec.rn + 1)
        |SELECT t AS duration_days, n_risk, d AS n_churned,
        |       CAST(s_e6 AS BIGINT) AS survival_e6
        |FROM rec ORDER BY t""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val lg = ud.withColumn("pday",
        lag("day", 1).over(Window.partitionBy("user_id").orderBy("day")))
      val u = lg.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"),
          min(when(col("day") - col("pday") > 2, col("pday")))
            .as("gap_end"))
      val cen = u.select(
          (coalesce(col("gap_end"), col("d1")) - col("d0")).as("t"),
          col("gap_end").isNull.cast("long").as("censored"))
        .groupBy("t")
        .agg(count(lit(1)).as("n_at"),
          sum(lit(1L) - col("censored")).as("d"))
      val grid = cen
        .withColumn("n_risk",
          sum("n_at").over(Window.orderBy(col("t").desc)))
        .select(col("t"), col("n_risk"), col("d"))
        .as[(Long, Long, Long)]
      // the KM product recurrence over the bounded duration census — a
      // single sorted fold (≤ distinct durations rows)
      grid.repartition(1).mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        var sE6 = 1000000L
        rows.iterator.map { case (t, nRisk, dd) =>
          sE6 = sE6 * (nRisk - dd) / nRisk
          (t, nRisk, dd, sE6)
        }
      }.toDF("duration_days", "n_risk", "n_churned", "survival_e6")
        .orderBy("duration_days")
    },

    // Log-rank test (Mantel 1966) — DO two cohorts' survival curves
    // differ? The hypothesis test that belongs next to q424's KM
    // estimator: cohorts = busier vs quieter half of users (median split
    // on active-day counts — a census rank), lifetimes/censoring exactly
    // q424's (>2-day gap). At each death time, observed cohort-1 deaths
    // vs the expected share of the pooled deaths under H₀, with the
    // hypergeometric variance; the statistic (ΣO−E)²/ΣV is χ²(1) and the
    // 3.84 critical value makes `significant` a checked output. All
    // integer: e6-scaled truncated divisions per death time (stated on
    // both engines), sums exact. Scale: everything after the per-user
    // lifetime pass is a death-time × cohort census.
    QueryDef("q425_logrank",
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |lg AS (SELECT user_id, day,
        |              lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |                AS pday
        |       FROM ud),
        |u AS (SELECT user_id, min(day) AS d0, max(day) AS d1,
        |             CAST(count(*) AS BIGINT) AS nd,
        |             min(CASE WHEN day - pday > 2 THEN pday END)
        |               AS gap_end
        |      FROM lg GROUP BY user_id),
        |lt AS (SELECT user_id,
        |              coalesce(gap_end, d1) - d0 AS dur,
        |              CASE WHEN gap_end IS NULL THEN 1 ELSE 0 END
        |                AS censored,
        |              CASE WHEN row_number() OVER (ORDER BY nd DESC,
        |                     user_id) * 2 <= count(*) OVER ()
        |                   THEN 1 ELSE 2 END AS cohort
        |       FROM u),
        |dt AS (SELECT DISTINCT dur AS t FROM lt WHERE censored = 0),
        |cell AS (
        |  SELECT dt.t,
        |         CAST(sum(CASE WHEN cohort = 1 AND dur >= dt.t
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN cohort = 2 AND dur >= dt.t
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN cohort = 1 AND dur = dt.t
        |                  AND censored = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS d1,
        |         CAST(sum(CASE WHEN cohort = 2 AND dur = dt.t
        |                  AND censored = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS d2
        |  FROM dt CROSS JOIN lt GROUP BY dt.t),
        |terms AS (
        |  SELECT t, n1, n2, d1, d2,
        |         CAST(CAST(d1 + d2 AS HUGEINT) * n1 * 1000000
        |              // (n1 + n2) AS BIGINT) AS e1_e6,
        |         CASE WHEN n1 + n2 > 1 THEN
        |           CAST(CAST(d1 + d2 AS HUGEINT) * n1 * n2
        |                * (n1 + n2 - d1 - d2) * 1000000
        |             // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2)
        |                * (n1 + n2 - 1)) AS BIGINT)
        |         ELSE 0 END AS v_e6
        |  FROM cell),
        |stat AS (
        |  SELECT CAST(sum(d1 * 1000000 - e1_e6) AS BIGINT) AS oe_e6,
        |         CAST(sum(v_e6) AS BIGINT) AS var_e6
        |  FROM terms)
        |SELECT terms.t AS death_day, terms.n1, terms.n2, terms.d1,
        |       terms.d2, terms.e1_e6, terms.v_e6,
        |       stat.oe_e6, stat.var_e6,
        |       stat.oe_e6 * stat.oe_e6 // stat.var_e6 AS logrank_e6,
        |       (stat.oe_e6 * stat.oe_e6 // stat.var_e6 > 3841459)
        |         AS significant
        |FROM terms, stat ORDER BY death_day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ud = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val lg = ud.withColumn("pday",
        lag("day", 1).over(Window.partitionBy("user_id").orderBy("day")))
      val u = lg.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"),
          count(lit(1)).as("nd"),
          min(when(col("day") - col("pday") > 2, col("pday")))
            .as("gap_end"))
      val lt = u.select(
          (coalesce(col("gap_end"), col("d1")) - col("d0")).as("dur"),
          col("gap_end").isNull.cast("long").as("censored"),
          when(row_number().over(Window.orderBy(col("nd").desc,
            col("user_id"))) * 2 <= count(lit(1)).over(Window.partitionBy()),
            1L).otherwise(2L).as("cohort"))
        .persist() // death-time grid + the cell census
      val dt = lt.where(col("censored") === 0).select(col("dur").as("t"))
        .distinct()
      val cell = dt.crossJoin(lt)
        .groupBy("t")
        .agg(
          sum(when(col("cohort") === 1 && col("dur") >= col("t"), 1L)
            .otherwise(0L)).as("n1"),
          sum(when(col("cohort") === 2 && col("dur") >= col("t"), 1L)
            .otherwise(0L)).as("n2"),
          sum(when(col("cohort") === 1 && col("dur") === col("t")
            && col("censored") === 0, 1L).otherwise(0L)).as("d1"),
          sum(when(col("cohort") === 2 && col("dur") === col("t")
            && col("censored") === 0, 1L).otherwise(0L)).as("d2"))
      val terms = cell.select(col("t"), col("n1"), col("n2"), col("d1"),
        col("d2"),
        // 128-bit intermediates (decimal(38) / HUGEINT, the q413 pattern):
        // the plain-BIGINT product d·n1·n2·(n−d)·1e6 overflows int64 once
        // cohorts pass a few thousand users — both engines would raise
        expr("cast(cast(d1 + d2 as decimal(38,0)) * n1 * 1000000" +
          " div (n1 + n2) as bigint)").as("e1_e6"),
        expr("CASE WHEN n1 + n2 > 1 THEN" +
          " cast(cast(d1 + d2 as decimal(38,0)) * n1 * n2" +
          " * (n1 + n2 - d1 - d2) * 1000000" +
          " div (cast(n1 + n2 as decimal(38,0)) * (n1 + n2)" +
          " * (n1 + n2 - 1)) as bigint)" +
          " ELSE 0L END").as("v_e6"))
        .persist() // output rows + the stat fold
      val stat = terms.agg(
        sum(expr("d1 * 1000000 - e1_e6")).as("oe_e6"),
        sum("v_e6").as("var_e6"))
      terms.crossJoin(broadcast(stat))
        .select(col("t").as("death_day"), col("n1"), col("n2"),
          col("d1"), col("d2"), col("e1_e6"), col("v_e6"),
          col("oe_e6"), col("var_e6"),
          expr("oe_e6 * oe_e6 div var_e6").as("logrank_e6"),
          expr("oe_e6 * oe_e6 div var_e6 > 3841459").as("significant"))
        .orderBy("death_day")
    },

    // Empirical Markov lifecycle chain — the user-state model product
    // analytics runs retention planning on: each user-week lands in
    // {heavy ≥ 6 active days, light 3–5, inactive ≤ 2 — boundaries from
    // the observed weekly-day deciles; p50 = 6 here}, consecutive-week
    // transitions build the empirical 3×3 matrix (e6 row-stochastic,
    // truncated division stated), and SIX unrolled power steps from the
    // observed initial distribution give the near-stationary mix — "where
    // does this cohort settle?". Output: every transition cell plus the
    // start/settled shares and a row-stochastic check (rows must sum to
    // 1e6 within per-cell truncation). All censuses; the only data pass
    // is the user-week activity rollup.
    QueryDef("q431_lifecycle_markov", {
      def stepCte(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT t.to_s AS st,
           |         CAST(sum(p.m_e6 * t.p_e6 // 1000000) AS BIGINT) AS m_e6
           |  FROM $prev p JOIN tm t ON t.from_s = p.st
           |  GROUP BY t.to_s)""".stripMargin
      s"""WITH uw AS (
         |  SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS week,
         |         CAST(count(DISTINCT epoch_us(ts) // 86400000000)
         |           AS BIGINT) AS days
         |  FROM events GROUP BY 1, 2),
         |wk AS (SELECT min(week) AS w0, max(week) AS w1 FROM uw),
         |grid AS (SELECT u.user_id, w.week
         |         FROM (SELECT DISTINCT user_id FROM uw) u
         |         CROSS JOIN (SELECT unnest(range((SELECT w0 FROM wk),
         |             (SELECT w1 FROM wk) + 1)) AS week) w),
         |st AS (SELECT g.user_id, g.week,
         |              CASE WHEN coalesce(uw.days, 0) >= 6 THEN 2
         |                   WHEN coalesce(uw.days, 0) >= 3 THEN 1
         |                   ELSE 0 END AS s
         |       FROM grid g LEFT JOIN uw
         |         ON uw.user_id = g.user_id AND uw.week = g.week),
         |tr AS (SELECT a.s AS from_s, b.s AS to_s,
         |              CAST(count(*) AS BIGINT) AS n
         |       FROM st a JOIN st b ON b.user_id = a.user_id
         |                          AND b.week = a.week + 1
         |       GROUP BY 1, 2),
         |tm AS (SELECT from_s, to_s,
         |              n * 1000000 // (CAST(sum(n) OVER (PARTITION BY
         |                from_s) AS BIGINT)) AS p_e6,
         |              n
         |       FROM tr),
         |p0 AS (SELECT s AS st,
         |              CAST(count(*) AS BIGINT) * 1000000
         |                // (SELECT CAST(count(*) AS BIGINT) FROM st
         |                    WHERE week = (SELECT w0 FROM wk)) AS m_e6
         |       FROM st WHERE week = (SELECT w0 FROM wk) GROUP BY s),
         |${stepCte("p0", "p1")},
         |${stepCte("p1", "p2")},
         |${stepCte("p2", "p3")},
         |${stepCte("p3", "p4")},
         |${stepCte("p4", "p5")},
         |${stepCte("p5", "p6")}
         |SELECT tm.from_s, tm.to_s, tm.n, tm.p_e6,
         |       CAST((SELECT sum(p_e6) FROM tm t2
         |             WHERE t2.from_s = tm.from_s) AS BIGINT) AS row_sum_e6,
         |       coalesce((SELECT m_e6 FROM p0 WHERE p0.st = tm.from_s), 0)
         |         AS start_e6,
         |       coalesce((SELECT m_e6 FROM p6 WHERE p6.st = tm.from_s), 0)
         |         AS settled_e6
         |FROM tm ORDER BY from_s, to_s""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      val uw = Tables.events(s, d)
        .groupBy(col("user_id"),
          expr("(unix_micros(ts) div 86400000000) div 7").as("week"))
        .agg(countDistinct(expr("unix_micros(ts) div 86400000000"))
          .as("days"))
        .persist() // grid + state joins
      val (w0, w1) = {
        val r = uw.agg(min("week"), max("week")).head()
        (r.getLong(0), r.getLong(1))
      }
      val grid = uw.select("user_id").distinct()
        .crossJoin(broadcast(
          s.range(w0, w1 + 1).select(col("id").as("week"))))
      val st0 = grid.join(uw, Seq("user_id", "week"), "left")
        .select(col("user_id"), col("week"),
          when(coalesce(col("days"), lit(0L)) >= 6, 2L)
            .when(coalesce(col("days"), lit(0L)) >= 3, 1L)
            .otherwise(0L).as("s"))
        .persist() // transition join reads it twice; p0 once
      val tr = st0.as("a")
        .join(st0.as("b"),
          col("b.user_id") === col("a.user_id")
            && col("b.week") === col("a.week") + 1)
        .groupBy(col("a.s").as("from_s"), col("b.s").as("to_s"))
        .agg(count(lit(1)).as("n"))
      val tm = tr.withColumn("p_e6",
          expr("n * 1000000 div sum(n) over (partition by from_s)"))
        .persist() // six power steps + output
      val n0 = st0.where(col("week") === w0).count()
      var p: DataFrame = st0.where(col("week") === w0)
        .groupBy(col("s").as("st"))
        .agg(expr(s"count(1) * 1000000 div ${n0}L").as("m_e6"))
      for (_ <- 1 to 6)
        p = p.join(tm, col("st") === col("from_s"))
          .groupBy(col("to_s"))
          .agg(sum(expr("m_e6 * p_e6 div 1000000")).as("m_e6"))
          .select(col("to_s").as("st"), col("m_e6"))
      val p0 = st0.where(col("week") === w0)
        .groupBy(col("s").as("st0"))
        .agg(expr(s"count(1) * 1000000 div ${n0}L").as("start_e6"))
      val rows = tm
        .withColumn("row_sum_e6",
          sum("p_e6").over(Window.partitionBy("from_s")))
        .join(p0, col("st0") === col("from_s"), "left")
        .join(p.select(col("st").as("st6"), col("m_e6").as("settled_e6")),
          col("st6") === col("from_s"), "left")
        .select(col("from_s"), col("to_s"), col("n"), col("p_e6"),
          col("row_sum_e6"),
          coalesce(col("start_e6"), lit(0L)).as("start_e6"),
          coalesce(col("settled_e6"), lit(0L)).as("settled_e6"))
        .orderBy("from_s", "to_s")
      rows
    },

    // RFM segmentation — the workhorse customer-value taxonomy (recency,
    // frequency, monetary): per user, days since last event, active-day
    // count, and total value, each cut into terciles by exact rank (ties
    // by user id — ntile is count-deterministic), composed into a 3-digit
    // segment code. The output is the segment census with per-segment
    // value share — the table a CRM actually routes campaigns by. One
    // user pass + rank windows; the census is ≤ 27 rows at any scale.
    QueryDef("q426_rfm_segments",
      s"""WITH u AS (
        |  SELECT user_id,
        |         max(epoch_us(ts) // 86400000000) AS last_day,
        |         CAST(count(DISTINCT epoch_us(ts) // 86400000000)
        |           AS BIGINT) AS freq,
        |         $clampedCentsSql AS money
        |  FROM events GROUP BY user_id),
        |h AS (SELECT max(last_day) AS horizon FROM u),
        |sc AS (SELECT user_id, freq, money,
        |              (SELECT horizon FROM h) - last_day AS recency,
        |              ntile(3) OVER (ORDER BY (SELECT horizon FROM h)
        |                - last_day, user_id) AS r_t,
        |              ntile(3) OVER (ORDER BY freq DESC, user_id) AS f_t,
        |              ntile(3) OVER (ORDER BY money DESC, user_id) AS m_t
        |       FROM u)
        |SELECT CAST(r_t * 100 + f_t * 10 + m_t AS BIGINT) AS segment,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(money) AS BIGINT) AS value_cents,
        |       CAST(sum(money) AS BIGINT) * 1000000
        |         // (SELECT CAST(sum(money) AS BIGINT) FROM u)
        |         AS value_share_ppm
        |FROM sc GROUP BY r_t, f_t, m_t ORDER BY segment""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(max(expr("unix_micros(ts) div 86400000000")).as("last_day"),
          countDistinct(expr("unix_micros(ts) div 86400000000")).as("freq"),
          clampedCents.as("money"))
        .persist() // horizon census + tercile windows + value total
      val horizon = u.agg(max("last_day")).head().getLong(0)
      val total = u.agg(sum("money")).head().getLong(0)
      // three user-scale terciles via the two-stage NTILE zip (round 13) —
      // users grow with the data; the oracle keeps the plain ntile(3)
      // windows (exact same buckets under each total order)
      import graft.operators.GlobalRank
      val base = u.select(col("user_id"), col("freq"), col("money"),
        (lit(horizon) - col("last_day")).as("recency"))
      val sc = GlobalRank.zipWithNtile(
        GlobalRank.zipWithNtile(
          GlobalRank.zipWithNtile(base,
            Seq(col("recency"), col("user_id")), 3, outName = "r_t"),
          Seq(col("freq").desc, col("user_id")), 3, outName = "f_t"),
        Seq(col("money").desc, col("user_id")), 3, outName = "m_t")
      sc.groupBy(expr("CAST(r_t * 100 + f_t * 10 + m_t AS BIGINT)")
          .as("segment"))
        .agg(count(lit(1)).as("n_users"), sum("money").as("value_cents"))
        .select(col("segment"), col("n_users"), col("value_cents"),
          expr(s"value_cents * 1000000 div ${total}L").as("value_share_ppm"))
        .orderBy("segment")
    },

    // Seasonal strength by one-way ANOVA (η²) — how much of a series'
    // day-to-day variance is the WEEKLY cycle? The variance decomposition
    // that decides whether q394's seasonal states are worth carrying at
    // all: per event type, daily volumes grouped by day-of-week,
    // η²_ppm = SS_between · 10⁶ / SS_total in exact integers (the
    // n²-scaled sum-of-squares identity n·Σx² − (Σx)² avoids means
    // entirely), F-statistic in e6 alongside. Scale: one day census per
    // type; the decomposition is a 7-row-per-type rollup.
    QueryDef("q427_seasonal_strength",
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day % 7 AS dow, x FROM d),
        |g AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS ng,
        |             CAST(sum(x) AS BIGINT) AS sg
        |      FROM w GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(x) AS BIGINT) AS s,
        |               CAST(sum(x * x) AS BIGINT) AS ss,
        |               CAST(count(DISTINCT dow) AS BIGINT) AS k
        |        FROM w GROUP BY 1),
        |dec AS (
        |  SELECT tot.event_type, tot.n, tot.k,
        |         tot.n * tot.ss - tot.s * tot.s AS sst_n2,
        |         CAST(sum(tot.n * g.sg * g.sg // g.ng) AS BIGINT)
        |           - tot.s * tot.s AS ssb_n2
        |  FROM tot JOIN g ON g.event_type = tot.event_type
        |  GROUP BY tot.event_type, tot.n, tot.k, tot.ss, tot.s)
        |SELECT event_type, n AS n_days, k AS n_dow,
        |       ssb_n2 * 1000000 // sst_n2 AS eta2_ppm,
        |       CASE WHEN sst_n2 - ssb_n2 > 0 THEN
        |         ssb_n2 * (n - k) * 1000000
        |         // ((sst_n2 - ssb_n2) * (k - 1))
        |       ELSE 0 END AS f_e6
        |FROM dec ORDER BY event_type""".stripMargin) { (s, d) =>
      val dd = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", col("day") % 7)
        .persist() // dow census + totals
      val g = dd.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("ng"), sum("x").as("sg"))
      val tot = dd.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("ss"),
          countDistinct("dow").as("k"))
      tot.join(g, "event_type")
        .groupBy(col("event_type"), col("n"), col("k"), col("ss"),
          col("s"))
        .agg(sum(expr("n * sg * sg div ng")).as("wsum"))
        .select(col("event_type"), col("n").as("n_days"),
          col("k").as("n_dow"),
          expr("(cast(wsum as bigint) - s * s) * 1000000" +
            " div (n * ss - s * s)").as("eta2_ppm"),
          expr("CASE WHEN (n * ss - s * s)" +
            " - (cast(wsum as bigint) - s * s) > 0 THEN" +
            " (cast(wsum as bigint) - s * s) * (n - k) * 1000000" +
            " div (((n * ss - s * s) - (cast(wsum as bigint) - s * s))" +
            " * (k - 1)) ELSE 0L END").as("f_e6"))
        .orderBy("event_type")
    },

    // Exponentially time-decayed counts — the freshness-weighted volume
    // metric every ops dashboard ranks by (a burst yesterday should
    // outrank steady drip from last month): each event contributes
    // 2^(−age/half-life) with a 1-day half-life, anchored at the
    // corpus's own max timestamp (a 1-row census, so the query is
    // replayable — wall clock never enters). ULP-HARDENED (round 12):
    // the age is an integer µs difference, so the decay weight runs as
    // IntExp's FULLY integer step chain — no float anywhere, no libm —
    // e6-quantized before the sum; the cross-row reduction is pure
    // integer. Output carries both the raw and decayed rankings; their
    // divergence is the recency signal. Scale: one max census + one
    // groupBy — nothing new moves at 100 TB.
    QueryDef("q388_decayed_counts", {
      val wInner = graft.functions.IntExp.duckDecayE6(
        """SELECT event_type, tmax - epoch_us(ts) AS age_us
          |FROM events, mx""".stripMargin, "age_us", 86400000000L)
      s"""WITH mx AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS tmax
        |            FROM events),
        |w AS (SELECT event_type, w_e6 FROM ($wInner)),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_raw,
        |        CAST(sum(w_e6) AS BIGINT) AS decayed_e6
        |      FROM w GROUP BY event_type)
        |SELECT event_type, n_raw, decayed_e6,
        |       CAST(decayed_e6 // n_raw AS BIGINT) AS mean_w_e6,
        |       CAST(row_number() OVER (ORDER BY n_raw DESC, event_type)
        |         AS BIGINT) AS rank_raw,
        |       CAST(row_number() OVER (ORDER BY decayed_e6 DESC, event_type)
        |         AS BIGINT) AS rank_decayed
        |FROM g ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val mx = Tables.events(s, d)
        .agg(max(expr("unix_micros(ts)")).as("tmax"))
      val aged = Tables.events(s, d).crossJoin(broadcast(mx))
        .select(col("event_type"),
          (col("tmax") - expr("unix_micros(ts)")).as("age_us"))
      val w = aged
        .withColumn("w_e6",
          graft.functions.IntExp.decayE6Col(col("age_us"), 86400000000L))
        .select(col("event_type"), col("w_e6"))
      val g = w.groupBy("event_type")
        .agg(count(lit(1)).as("n_raw"), sum("w_e6").as("decayed_e6"))
      g.select(col("event_type"), col("n_raw"), col("decayed_e6"),
          expr("decayed_e6 div n_raw").as("mean_w_e6"),
          row_number().over(Window.orderBy(col("n_raw").desc,
            col("event_type"))).cast("long").as("rank_raw"),
          row_number().over(Window.orderBy(col("decayed_e6").desc,
            col("event_type"))).cast("long").as("rank_decayed"))
        .orderBy("event_type")
    },

    // Matrix profile (Yeh et al., ICDM 2016) — the time-series motif/
    // anomaly primitive: for every 7-day window of the daily-revenue
    // series, the z-normalized distance to its NEAREST other window
    // (exclusion zone |a−b| ≥ 4 kills trivial self-matches). Low profile
    // = repeated shape (motif), high = unique shape (discord). The
    // z-normalized distance collapses to 2w(1 − ρ) with ρ the Pearson
    // correlation of the two windows — so the whole profile is integer
    // co-moments (one 7-offset alignment join over the DAY CENSUS, ~30
    // rows; pairs ~24², never event-grain) plus one double chain per
    // pair, e6-quantized before the min. Windows with zero variance are
    // excluded by a stated guard on both engines. Scale: everything
    // after the day rollup is statistics-sized.
    QueryDef("q393_matrix_profile",
      s"""WITH ${dailyCentsSql("d0", perType = false)},
        |d AS (SELECT row_number() OVER (ORDER BY day) AS rn, y FROM d0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
        |st AS (SELECT rn AS a FROM d, n WHERE rn <= nd - 6),
        |pairs AS (SELECT x.a, z.a AS b FROM st x JOIN st z
        |          ON abs(x.a - z.a) >= 4),
        |al AS (SELECT p.a, p.b, xa.y AS xv, yb.y AS yv
        |       FROM pairs p
        |       JOIN (SELECT unnest(range(0, 7)) AS k) kk ON true
        |       JOIN d xa ON xa.rn = p.a + k
        |       JOIN d yb ON yb.rn = p.b + k),
        |mo AS (SELECT a, b,
        |         CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
        |         CAST(sum(xv * yv) AS BIGINT) AS sxy,
        |         CAST(sum(xv * xv) AS BIGINT) AS sxx,
        |         CAST(sum(yv * yv) AS BIGINT) AS syy
        |       FROM al GROUP BY a, b),
        |dist AS (
        |  SELECT a, b,
        |    CAST(round(14 * (1 - (7 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
        |      / sqrt((7 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
        |             * (7 * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)))
        |      * 1000000, 0) AS BIGINT) AS d2_e6
        |  FROM mo
        |  WHERE 7 * sxx <> sx * sx AND 7 * syy <> sy * sy),
        |prof AS (
        |  SELECT a, b, d2_e6,
        |         row_number() OVER (PARTITION BY a ORDER BY d2_e6, b) AS rk
        |  FROM dist),
        |mp AS (SELECT a AS w_start, b AS nn_start, d2_e6 FROM prof
        |       WHERE rk = 1),
        |mn AS (SELECT CAST(min(d2_e6) AS BIGINT) AS md FROM mp)
        |SELECT CAST(w_start AS BIGINT) AS w_start,
        |       CAST(nn_start AS BIGINT) AS nn_start, d2_e6,
        |       d2_e6 = (SELECT md FROM mn) AS is_motif
        |FROM mp ORDER BY w_start""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val d0 = dailyCents(Tables.events(s, d), keys = Nil)
      val dd = d0.select(row_number().over(Window.orderBy("day"))
          .cast("long").as("rn"), col("y"))
        .persist() // the start list + both alignment sides scan it
      val n = dd.agg(count(lit(1)).as("nd"))
      val st = dd.crossJoin(broadcast(n)).where(col("rn") <= col("nd") - 6)
        .select(col("rn").as("a"))
      val pairs = st.join(broadcast(st.withColumnRenamed("a", "b")),
        abs(col("a") - col("b")) >= 4) // ≤k² window starts — BNLJ, never
                                       // a cartesian over data
      val al = pairs
        .select(col("a"), col("b"), explode(expr("sequence(0, 6)")).as("k"))
        .join(dd.select(col("rn").as("xr"), col("y").as("xv")),
          col("xr") === col("a") + col("k"))
        .join(dd.select(col("rn").as("yr"), col("y").as("yv")),
          col("yr") === col("b") + col("k"))
      val mo = al.groupBy("a", "b").agg(
        sum("xv").as("sx"), sum("yv").as("sy"),
        sum(col("xv") * col("yv")).as("sxy"),
        sum(col("xv") * col("xv")).as("sxx"),
        sum(col("yv") * col("yv")).as("syy"))
      val dist = mo
        .where(expr("7 * sxx <> sx * sx and 7 * syy <> sy * sy"))
        .select(col("a"), col("b"),
          round((lit(14d) * (lit(1d)
            - (lit(7d) * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy"))
              / sqrt((lit(7d) * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx"))
                * (lit(7d) * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy")))))
            * 1000000, 0).cast("long").as("d2_e6"))
      val wr = Window.partitionBy("a").orderBy(col("d2_e6"), col("b"))
      val mp = dist.withColumn("rk", row_number().over(wr))
        .where(col("rk") === 1)
        .select(col("a").as("w_start"), col("b").as("nn_start"),
          col("d2_e6"))
        .persist() // min census + output
      val mn = mp.agg(min("d2_e6").as("md"))
      mp.crossJoin(broadcast(mn))
        .select(col("w_start"), col("nn_start"), col("d2_e6"),
          (col("d2_e6") === col("md")).as("is_motif"))
        .orderBy("w_start")
    },

    // Holt–Winters ADDITIVE-SEASONAL smoothing — the third rung of the
    // forecasting ladder (q233 EWMA: level; q271 Holt: level+trend; here:
    // level+trend+7 weekly seasonal states), on data that HAS a weekly
    // pattern (the dow-4/5 revenue bump is ~30%, measured — q262's
    // seasonal-anomaly premise). All-integer α=β=γ=½ truncating-halving
    // recurrences (the q271 division contract); init at day 7: level =
    // first-week floor-mean, trend 0, seasonals = first-week deviations,
    // and the Holt-only twin initialized IDENTICALLY so the two one-step
    // forecast error columns isolate exactly what the seasonal states
    // buy. Nine carried longs per series — the sorted-group-recurrence
    // scale shape (one exchange, O(1) state per key). The oracle steps
    // the same recurrence with the 7 seasonal slots as rotating CTE
    // columns. MEASURED FINDING (the q283 honesty bar): on this corpus
    // HW loses to plain Holt at BOTH scales (sf0.01 abs-error totals
    // 10.07M vs 7.70M) — the pooled dow bump is real but not stable
    // week-over-week, so γ=½ seasonal states chase noise; with ~3
    // cycles of history the seasonal rung costs accuracy, which is
    // exactly what a forecast eval exists to surface. The spec replays
    // both recurrences independently instead of betting on a winner.
    QueryDef("q394_holt_winters",
      s"""WITH RECURSIVE ${dailyCentsSql("d0", materialized = true)},
        |${seriesRankSql("d", "d0")},
        |ini AS MATERIALIZED (
        |  SELECT event_type,
        |    CAST(sum(y) // 7 AS BIGINT) AS l0,
        |    CAST(max(CASE WHEN rn = 1 THEN y END) AS BIGINT) AS y1,
        |    CAST(max(CASE WHEN rn = 2 THEN y END) AS BIGINT) AS y2,
        |    CAST(max(CASE WHEN rn = 3 THEN y END) AS BIGINT) AS y3,
        |    CAST(max(CASE WHEN rn = 4 THEN y END) AS BIGINT) AS y4,
        |    CAST(max(CASE WHEN rn = 5 THEN y END) AS BIGINT) AS y5,
        |    CAST(max(CASE WHEN rn = 6 THEN y END) AS BIGINT) AS y6,
        |    CAST(max(CASE WHEN rn = 7 THEN y END) AS BIGINT) AS y7
        |  FROM d WHERE rn <= 7 GROUP BY event_type),
        |rec(event_type, rn, day, y, l, b, s1, s2, s3, s4, s5, s6, s7,
        |    lh, bh, f_hw, f_holt) AS (
        |  SELECT d.event_type, 7, d.day, d.y, ini.l0, CAST(0 AS BIGINT),
        |         y1 - l0, y2 - l0, y3 - l0, y4 - l0, y5 - l0, y6 - l0,
        |         y7 - l0, ini.l0, CAST(0 AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM ini JOIN d ON d.event_type = ini.event_type AND d.rn = 7
        |  UNION ALL
        |  SELECT r.event_type, r.rn, r.day, r.y,
        |         (r.y - rec.s1 + rec.l + rec.b) // 2,
        |         (((r.y - rec.s1 + rec.l + rec.b) // 2 - rec.l) + rec.b)
        |           // 2,
        |         rec.s2, rec.s3, rec.s4, rec.s5, rec.s6, rec.s7,
        |         ((r.y - (r.y - rec.s1 + rec.l + rec.b) // 2) + rec.s1)
        |           // 2,
        |         (r.y + rec.lh + rec.bh) // 2,
        |         (((r.y + rec.lh + rec.bh) // 2 - rec.lh) + rec.bh) // 2,
        |         rec.l + rec.b + rec.s1,
        |         rec.lh + rec.bh
        |  FROM d r JOIN rec ON r.event_type = rec.event_type
        |                   AND r.rn = rec.rn + 1)
        |SELECT event_type, CAST(day AS BIGINT) AS day, y AS y_cents,
        |       f_hw, f_holt,
        |       abs(y - f_hw) AS err_hw, abs(y - f_holt) AS err_holt
        |FROM rec WHERE rn >= 8
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import s.implicits._
      val daily = dailyCents(Tables.events(s, d))
        .as[(String, Long, Long)]
      daily.groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          val seas = scala.collection.mutable.Queue.empty[Long]
          var (l, b, lh, bh) = (0L, 0L, 0L, 0L)
          var t = 0
          rows.flatMap { case (_, day, y) =>
            t += 1
            if (t < 7) { buf += y; Nil }
            else if (t == 7) {
              buf += y
              l = buf.sum / 7 // first-week floor-mean (non-negative sum)
              lh = l
              buf.foreach(yy => seas.enqueue(yy - l))
              Nil
            } else {
              val s1 = seas.dequeue()
              val fHw = l + b + s1
              val fHolt = lh + bh
              val lN = (y - s1 + l + b) / 2
              b = ((lN - l) + b) / 2
              seas.enqueue(((y - lN) + s1) / 2)
              l = lN
              val lhN = (y + lh + bh) / 2
              bh = ((lhN - lh) + bh) / 2
              lh = lhN
              Seq((k, day, y, fHw, fHolt,
                math.abs(y - fHw), math.abs(y - fHolt)))
            }
          }
        }
        .toDF("event_type", "day", "y_cents", "f_hw", "f_holt",
          "err_hw", "err_holt")
        .orderBy("event_type", "day")
    },

    // SCD Type-2 dimension build — the warehouse primitive that turns a
    // change stream into validity INTERVALS (Kimball's slowly-changing
    // dimension): per user, each run of consecutive identical states
    // (state = the event type, ordered by (ts, event_id)) becomes one
    // versioned row [valid_from, valid_to), open-ended for the current
    // state. Exactly the lag-mark → filter-changes → lead-close shape a
    // MERGE-based SCD pipeline computes: two windows per user key, no
    // self-joins, nothing corpus-sized moves twice. Integer microseconds;
    // version numbers are the change ranks so the output is fully ordered.
    QueryDef("q438_scd2_intervals",
      """WITH e AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id < 10),
        |m AS (SELECT user_id, state, us, event_id,
        |             lag(state) OVER (PARTITION BY user_id
        |               ORDER BY us, event_id) AS pstate
        |      FROM e),
        |c AS (SELECT user_id, state, us AS valid_from_us,
        |             CAST(row_number() OVER (PARTITION BY user_id
        |               ORDER BY us, event_id) AS BIGINT) AS version,
        |             lead(us) OVER (PARTITION BY user_id
        |               ORDER BY us, event_id) AS valid_to_us
        |      FROM m WHERE pstate IS NULL OR state <> pstate)
        |SELECT user_id, version, state, valid_from_us,
        |       CAST(coalesce(valid_to_us, -1) AS BIGINT) AS valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM c ORDER BY user_id, version""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val e = Tables.events(s, d).where(col("user_id") < 10)
        .select(col("user_id"), col("event_type").as("state"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
      val changes = e
        .withColumn("pstate", lag("state", 1).over(w))
        .where(col("pstate").isNull || col("state") =!= col("pstate"))
      changes
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to_raw", lead("us", 1).over(w))
        .select(col("user_id"), col("version"), col("state"),
          col("us").as("valid_from_us"),
          coalesce(col("valid_to_raw"), lit(-1L)).as("valid_to_us"),
          col("valid_to_raw").isNull.as("is_current"))
        .orderBy("user_id", "version")
    },

    // Split-conformal prediction intervals (Vovk; Lei et al. 2018) — the
    // DISTRIBUTION-FREE uncertainty wrapper an ML serving pipeline puts
    // around any point predictor: hash-split events into train/cal/test,
    // predict each type's cents by its train mean, take q̂ = the exact
    // ⌈(n+1)·0.9⌉-th smallest calibration |residual| (a RANK statistic —
    // oracle-exact where a float quantile isn't), and report the measured
    // test coverage of pred ± q̂, which the conformal guarantee lower-
    // bounds at ~90 % regardless of how wrong the model is. Scale: one
    // census per split + a per-type rank pick inside a keyed window.
    QueryDef("q439_conformal_interval", {
      val b = graft.functions.Hashes.bucketSql("event_id", 131, 10)
      s"""WITH e AS (
         |  SELECT event_id, event_type,
         |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         |         $b AS b
         |  FROM events),
         |tr AS (SELECT event_type,
         |              CAST(count(*) AS BIGINT) AS n_train,
         |              CAST(sum(cents) AS BIGINT) // count(*) AS pred_cents
         |       FROM e WHERE b < 6 GROUP BY event_type),
         |cal AS (SELECT e.event_type, abs(cents - pred_cents) AS r,
         |               event_id
         |        FROM e JOIN tr USING (event_type)
         |        WHERE b >= 6 AND b < 8),
         |cn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal
         |       FROM cal GROUP BY event_type),
         |rk AS (SELECT event_type, r,
         |              row_number() OVER (PARTITION BY event_type
         |                ORDER BY r, event_id) AS rn
         |       FROM cal),
         |qh AS (SELECT rk.event_type, CAST(rk.r AS BIGINT) AS qhat_cents,
         |              cn.n_cal
         |       FROM rk JOIN cn USING (event_type)
         |       WHERE rk.rn = least(((cn.n_cal + 1) * 9 + 9) // 10,
         |                           cn.n_cal)),
         |te AS (SELECT e.event_type,
         |              CAST(count(*) AS BIGINT) AS n_test,
         |              CAST(sum(CASE WHEN abs(cents - pred_cents)
         |                       <= qhat_cents THEN 1 ELSE 0 END)
         |                   AS BIGINT) AS n_cov
         |       FROM e JOIN tr USING (event_type) JOIN qh
         |         ON qh.event_type = e.event_type
         |       WHERE b >= 8 GROUP BY e.event_type)
         |SELECT tr.event_type, tr.n_train, tr.pred_cents, qh.n_cal,
         |       qh.qhat_cents, te.n_test,
         |       te.n_cov * 1000000 // te.n_test AS coverage_ppm
         |FROM tr JOIN qh ON qh.event_type = tr.event_type
         |        JOIN te ON te.event_type = tr.event_type
         |ORDER BY tr.event_type""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Hashes
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          Hashes.bucket(col("event_id"), 131, 10).as("b"))
        .persist() // three split scans
      val tr = e.where(col("b") < 6).groupBy("event_type")
        .agg(count(lit(1)).as("n_train"),
          expr("sum(cents) div count(1)").as("pred_cents"))
      val trB = broadcast(tr) // ≤ |event_type| rows
      val cal = e.where(col("b") >= 6 && col("b") < 8)
        .join(trB, "event_type")
        .select(col("event_type"), abs(col("cents") - col("pred_cents"))
          .as("r"), col("event_id"))
      val cn = cal.groupBy("event_type").agg(count(lit(1)).as("n_cal"))
      val wr = Window.partitionBy("event_type").orderBy("r", "event_id")
      val qh = cal.withColumn("rn", row_number().over(wr))
        .join(broadcast(cn), "event_type")
        .where(col("rn") ===
          least(expr("((n_cal + 1) * 9 + 9) div 10"), col("n_cal")))
        .select(col("event_type"), col("r").as("qhat_cents"), col("n_cal"))
      val te = e.where(col("b") >= 8)
        .join(trB, "event_type").join(broadcast(qh), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("cents") - col("pred_cents"))
            <= col("qhat_cents"), 1L).otherwise(0L)).as("n_cov"))
      tr.join(qh, "event_type").join(te, "event_type")
        .select(col("event_type"), col("n_train"), col("pred_cents"),
          col("n_cal"), col("qhat_cents"), col("n_test"),
          expr("n_cov * 1000000 div n_test").as("coverage_ppm"))
        .orderBy("event_type")
    },

    // Group k-fold assignment + leakage audit — the CV split GROUPED data
    // requires (all of a user's events in ONE fold, else user-level
    // features leak across folds): fold = salted hash of the GROUP key.
    // The audit column pair states the property as data: users spanning
    // ≥2 folds under the group split (0 by construction) vs under the
    // naive EVENT-hash split (almost every multi-event user) — the
    // leakage this operator exists to prevent, measured on this corpus.
    // Scale: two distinct-censuses + a fold rollup; the fold key is a
    // projection, never a shuffle of its own.
    QueryDef("q440_group_kfold", {
      val gf = graft.functions.Hashes.bucketSql("user_id", 77, 5)
      val ef = graft.functions.Hashes.bucketSql("event_id", 77, 5)
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |         $gf AS fold, $ef AS efold
         |  FROM events),
         |per AS (SELECT fold,
         |               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |               CAST(count(*) AS BIGINT) AS n_events,
         |               CAST(sum(CASE WHEN event_type = 'purchase'
         |                        THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         |                 // count(*) AS purchase_ppm
         |        FROM e GROUP BY fold),
         |sg AS (SELECT CAST(count(*) AS BIGINT) AS spanning_group FROM (
         |         SELECT user_id FROM e GROUP BY user_id
         |         HAVING count(DISTINCT fold) > 1)),
         |sn AS (SELECT CAST(count(*) AS BIGINT) AS spanning_naive FROM (
         |         SELECT user_id FROM e GROUP BY user_id
         |         HAVING count(DISTINCT efold) > 1))
         |SELECT fold, n_users, n_events, purchase_ppm,
         |       spanning_group, spanning_naive
         |FROM per CROSS JOIN sg CROSS JOIN sn ORDER BY fold""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"),
          Hashes.bucket(col("user_id"), 77, 5).as("fold"),
          Hashes.bucket(col("event_id"), 77, 5).as("efold"))
        .persist() // fold rollup + both spanning censuses
      val per = e.groupBy("fold").agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        expr("sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)" +
          " * 1000000 div count(1)").as("purchase_ppm"))
      val sg = e.groupBy("user_id")
        .agg(countDistinct("fold").as("nf"))
        .where(col("nf") > 1)
        .agg(count(lit(1)).as("spanning_group"))
      val sn = e.groupBy("user_id")
        .agg(countDistinct("efold").as("nf"))
        .where(col("nf") > 1)
        .agg(count(lit(1)).as("spanning_naive"))
      per.crossJoin(broadcast(sg)).crossJoin(broadcast(sn))
        .select("fold", "n_users", "n_events", "purchase_ppm",
          "spanning_group", "spanning_naive")
        .orderBy("fold")
    },

    // Leave-one-out target encoding with additive smoothing — the
    // categorical-feature op every tabular pipeline ships, stated
    // leakage-FREE: a row's own label is excluded from its category mean
    // (enc_e = (sum − own + m·prior) / (n − 1 + m), m = 10, prior = the
    // global rate), because the naive in-fold mean leaks the label into
    // the feature. All integer e6 arithmetic from two censuses — the
    // global rate broadcast, the per-user census joined back; the LOO
    // subtraction is a projection, never a self-join. Output: per-user
    // audit of the encoded values (count, min, max, sum) so the checked
    // relation stays user-census-sized.
    QueryDef("q441_target_encoding",
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT CAST(sum(y) AS BIGINT) * 1000000
        |        // count(*) AS prior_e6 FROM e),
        |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(y) AS BIGINT) AS sy
        |      FROM e GROUP BY user_id),
        |enc AS (SELECT e.user_id, e.event_id,
        |               ((u.sy - e.y) * 1000000 + 10 * g.prior_e6)
        |                 // (u.n - 1 + 10) AS enc_e6
        |        FROM e JOIN u USING (user_id) CROSS JOIN g)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(enc_e6) AS BIGINT) AS min_e6,
        |       CAST(max(enc_e6) AS BIGINT) AS max_e6,
        |       CAST(sum(enc_e6) AS BIGINT) AS sum_e6
        |FROM enc WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .persist() // global rate + per-user census + the encode pass
      val g = broadcast(e.agg(
        expr("sum(y) * 1000000 div count(1)").as("prior_e6")))
      val u = e.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      e.join(u, "user_id").crossJoin(g)
        .select(col("user_id"),
          expr("((sy - y) * 1000000 + 10 * prior_e6) div (n - 1 + 10)")
            .as("enc_e6"))
        .where(col("user_id") < 20)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"), min("enc_e6").as("min_e6"),
          max("enc_e6").as("max_e6"), sum("enc_e6").as("sum_e6"))
        .orderBy("user_id")
    },

    // Greedy TTL throttle — at most one KEPT occurrence per user per
    // 7-day window, greedily from the first (the notification-rate-limit
    // / crawl-politeness / retention-dedup primitive). NOT sessionization:
    // a user active EVERY day re-keeps on days 1, 8, 15, … under the
    // throttle, while q28's gap sessions would chain forever and keep
    // only day 1. The kept set is a sequential recurrence (next kept =
    // first day ≥ last kept + 7), so it rides the q410 machinery —
    // flatMapSortedGroups with O(1) state per key, oracle as the same
    // recursive CTE — and the full per-day trace is hash-checked, not
    // just the kept count. Scale: one day census + one keyed exchange
    // with secondary sort; recursion depth = active days per user.
    QueryDef("q442_ttl_throttle", ttlThrottleSql) { (s, d) =>
      import s.implicits._
      Tables.events(s, d).where(col("user_id") < 30)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("day")) { (k, rows) =>
          var lastKept = Long.MinValue / 2
          rows.map { case (_, day) =>
            val kept = if (day >= lastKept + 7) 1L else 0L
            if (kept == 1L) lastKept = day
            (k, day, kept)
          }
        }
        .toDF("user_id", "day", "kept")
        .orderBy("user_id", "day")
    },

    // STREAMING TTL throttle — q442's recurrence run where the operator
    // actually lives in production (a notification rate-limiter is a
    // stream job): StatefulStreams.Throttle holds the last KEPT day per
    // user in transformWithState ValueState; the q412 ordered-wave
    // harness (early calendar half drains to a stop, late half resumes
    // the SAME RocksDB checkpoint) proves the throttle state survives a
    // full restart. Oracle = q442's recursive CTE VERBATIM — streamed ≡
    // batch, row for row, by the shared hash.
    QueryDef("q451_stream_throttle", ttlThrottleSql) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StructType}
      import graft.streaming.StatefulStreams
      val ud = Tables.events(s, d).where(col("user_id") < 30)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .persist() // wave split boundary + both landing writes
      val mid = ud.agg(expr("(min(day) + max(day)) div 2")).head().getLong(0)
      Scratch.run(s, "graft_thr_q_", StatefulStreams.RocksDb) { root =>
        // ordered waves: all wave-A days precede all wave-B days, so the
        // per-key recurrence sees days in order across the restart
        Drain.twoWaves(s"$root/landing",
            ud.where(col("day") <= mid).coalesce(1),
            ud.where(col("day") > mid).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType()
              .add("user_id", LongType).add("day", LongType))
            .parquet(s"$root/landing")
            .as[(Long, Long)]
            .groupByKey(_._1)
            .transformWithState(new StatefulStreams.Throttle(7),
              TimeMode.None(), OutputMode.Append())
          Drain.toParquet(stream.toDF("user_id", "day", "kept"),
            s"$root/out", s"$root/ckpt")
        }
        s.read.parquet(s"$root/out")
          .select("user_id", "day", "kept")
          .orderBy("user_id", "day")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
      }
    }
  )
}

/** q276 oracle: the transition census, the dense (from, to) probability
  * grid on the integer 1e-6 row-stochastic grid, the TRANSPOSED matrix as
  * a nested list, and six unrolled power-iteration rounds with the exact
  * q229 replay discipline (ascending-j mat-vec fold from 0.0, L2 norm,
  * 1e-9 HALF_UP snap) — k is data-driven, so the folds range over len(m).
  */
private object MarkovSql {
  private def fold(body: String, range: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform($range, $body)), (x, y) -> x + y)""".stripMargin

  private def round9(prev: String, wName: String, vName: String): String =
    s"""$wName AS (
       |  SELECT list_transform(range(1, len(m) + 1), i ->
       |    ${fold("j -> m[i][j] * v[j]", "range(1, len(m) + 1)")}) AS w
       |  FROM cm, $prev),
       |$vName AS (
       |  SELECT list_transform(w, x -> round(x / sqrt(
       |    ${fold("y -> y * y", "w")}), 9)) AS v
       |  FROM $wName)""".stripMargin

  val sql: String = {
    val rounds = (1 to 6).map(r => round9(s"v${r - 1}", s"w$r", s"v$r"))
      .mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
       |           FROM events),
       |p0 AS (SELECT event_type AS ft,
       |         lead(event_type) OVER (PARTITION BY user_id
       |           ORDER BY us, event_id) AS tt
       |       FROM e),
       |pr AS (SELECT ft, tt, CAST(count(*) AS BIGINT) AS c FROM p0
       |       WHERE tt IS NOT NULL GROUP BY 1, 2),
       |ty AS (SELECT t, row_number() OVER (ORDER BY t) - 1 AS ix FROM (
       |        SELECT DISTINCT ft AS t FROM pr
       |        UNION SELECT DISTINCT tt FROM pr) u),
       |grid AS (SELECT a.ix AS i, b.ix AS j, a.t AS ft, b.t AS tt
       |         FROM ty a, ty b),
       |cc AS (SELECT g.i, g.j, g.ft, g.tt,
       |         CAST(coalesce(pr.c, 0) AS BIGINT) AS c
       |       FROM grid g LEFT JOIN pr ON pr.ft = g.ft AND pr.tt = g.tt),
       |rs AS (SELECT i, CAST(sum(c) AS BIGINT) AS s FROM cc GROUP BY i),
       |pe AS (SELECT cc.i, cc.j, cc.ft, cc.tt, cc.c,
       |         CASE WHEN rs.s = 0 THEN 0
       |              ELSE cc.c * 1000000 // rs.s END AS p_e6
       |       FROM cc JOIN rs USING (i)),
       |cm AS MATERIALIZED (
       |  SELECT list(rowl ORDER BY r) AS m FROM (
       |    SELECT j AS r, list(CAST(p_e6 AS DOUBLE) ORDER BY i) AS rowl
       |    FROM pe GROUP BY j) t),
       |v0 AS (SELECT list_transform(range(0, len(m)),
       |         i -> CASE WHEN i = 0 THEN CAST(1 AS DOUBLE)
       |              ELSE CAST(0 AS DOUBLE) END) AS v FROM cm),
       |$rounds,
       |pi AS (SELECT v FROM v6)
       |SELECT pe.ft AS from_type, pe.tt AS to_type, pe.c,
       |       CAST(pe.p_e6 AS BIGINT) AS p_e6,
       |       CAST(round(pi.v[pe.i + 1] * 1000000000, 0) AS BIGINT)
       |         AS pi_from_e9
       |FROM pe, pi ORDER BY from_type, to_type""".stripMargin
  }
}

/** q281 oracle: user journeys truncated at first purchase, the
  * START/channel transition census, the transient matrix + CONV-absorption
  * vector on the 1e-6 grid, and the masked 16-round fixed-point chains
  * (base + one per removed channel) replayed with the q229 discipline —
  * ascending-j folds, + b[i], 1e-9 HALF_UP snap; a masked state is pinned
  * to 0 each round (removal = the channel absorbs to LOST).
  *
  * The channel set is DATA-DRIVEN (was: four hardcoded fixture channels —
  * the r7 verdict's missing #4): every non-START transient state becomes a
  * mask row, and ONE chain of step CTEs iterates all masks in parallel
  * (the step was always a per-(mix, a) row map — running it over the
  * whole mask relation instead of one mask costs nothing and removes the
  * per-channel SQL codegen). A channel appearing in the data but unknown
  * to the old static list would previously have silently fallen to the
  * base estimate; now it gets its own removal row on both engines.
  */
private object AttributionSql {
  val Rounds = 16

  private def fold(body: String, range: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform($range, $body)), (x, y) -> x + y)""".stripMargin

  /** One masked fixed-point round over ALL mask rows; `mix` is the 1-based
    * masked index column (NULL = the unmasked base chain).
    */
  // each step is MATERIALIZED: the its are single-referenced, so DuckDB
  // would otherwise inline the whole chain into one Rounds-deep lambda
  // tree — stepwise materialization (6-row intermediates) caps the
  // planner/expression depth at one round (round-14; q281 read 8.2 s
  // under sweep load, 82% of budget, with the inlined form)
  private def step(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT ch, mix, list_transform(range(1, len(m) + 1), i ->
       |    CASE WHEN mix IS NOT NULL AND i = mix THEN CAST(0 AS DOUBLE)
       |         ELSE round(${fold("j -> m[i][j] * a[j]", "range(1, len(m) + 1)")}
       |                    + bv[i], 9) END) AS a
       |  FROM cm, bvec, $prev)""".stripMargin

  val sql: String = {
    val steps = (1 to Rounds).map(r => step(s"it_${r - 1}", s"it_$r"))
      .mkString(",\n")
    val chains =
      s"""masks AS (SELECT CAST(NULL AS VARCHAR) AS ch, CAST(NULL AS BIGINT) AS mix
         |          UNION ALL
         |          SELECT st, ix + 1 FROM ty WHERE st <> 'START'),
         |it_0 AS MATERIALIZED (
         |  SELECT ch, mix,
         |         list_transform(range(0, len(m)), x -> CAST(0 AS DOUBLE)) AS a
         |  FROM masks, cm),
         |$steps,
         |fin AS (SELECT ch, a[(SELECT ix + 1 FROM ty WHERE st = 'START')]
         |          AS a_start
         |        FROM it_$Rounds),
         |base AS (SELECT a_start FROM fin WHERE ch IS NULL)""".stripMargin
    val outs =
      s"""SELECT f.ch AS channel,
         |  CAST(round(base.a_start * 1000000000, 0) AS BIGINT) AS conv_e9,
         |  CAST(round(f.a_start * 1000000000, 0) AS BIGINT) AS removed_e9,
         |  CASE WHEN base.a_start = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(round((base.a_start - f.a_start) / base.a_start
         |         * 1000000, 0) AS BIGINT) END AS removal_ppm
         |FROM fin f, base WHERE f.ch IS NOT NULL""".stripMargin
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
       |           FROM events),
       |fp AS (SELECT user_id, us AS pus, event_id AS pid FROM (
       |         SELECT user_id, us, event_id,
       |                row_number() OVER (PARTITION BY user_id
       |                  ORDER BY us, event_id) AS rn
       |         FROM e WHERE event_type = 'purchase') t WHERE rn = 1),
       |kept AS (SELECT e.user_id, e.event_type, e.us, e.event_id,
       |           fp.pus IS NOT NULL AS conv
       |         FROM e LEFT JOIN fp USING (user_id)
       |         WHERE e.event_type <> 'purchase'
       |           AND (fp.pus IS NULL OR e.us < fp.pus
       |                OR (e.us = fp.pus AND e.event_id < fp.pid))),
       |seq AS (SELECT user_id, event_type, conv,
       |          row_number() OVER (PARTITION BY user_id
       |            ORDER BY us, event_id) AS rn,
       |          count(*) OVER (PARTITION BY user_id) AS nk,
       |          lead(event_type) OVER (PARTITION BY user_id
       |            ORDER BY us, event_id) AS nxt
       |        FROM kept),
       |tr AS (
       |  SELECT 'START' AS f, event_type AS t FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, nxt FROM seq WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT event_type, CASE WHEN conv THEN 'CONV' ELSE 'LOST' END
       |  FROM seq WHERE rn = nk
       |  UNION ALL
       |  SELECT 'START', 'CONV' FROM fp
       |  WHERE NOT EXISTS (SELECT 1 FROM kept k
       |                    WHERE k.user_id = fp.user_id)),
       |cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS c
       |        FROM tr GROUP BY 1, 2),
       |rsum AS (SELECT f, CAST(sum(c) AS BIGINT) AS s FROM cnt GROUP BY f),
       |ty AS (SELECT f AS st, row_number() OVER (ORDER BY f) - 1 AS ix
       |       FROM (SELECT DISTINCT f FROM cnt) u),
       |pe AS (SELECT a.ix AS i, b.ix AS j,
       |         CAST(coalesce(cnt.c, 0) * 1000000 // rsum.s AS BIGINT)
       |           AS p_e6
       |       FROM ty a JOIN rsum ON rsum.f = a.st
       |       CROSS JOIN ty b
       |       LEFT JOIN cnt ON cnt.f = a.st AND cnt.t = b.st),
       |pb AS (SELECT a.ix AS i,
       |         CAST(coalesce(cnt.c, 0) * 1000000 // rsum.s AS BIGINT)
       |           AS p_e6
       |       FROM ty a JOIN rsum ON rsum.f = a.st
       |       LEFT JOIN cnt ON cnt.f = a.st AND cnt.t = 'CONV'),
       |cm AS MATERIALIZED (
       |  SELECT list(rowl ORDER BY i) AS m FROM (
       |    SELECT i, list(CAST(p_e6 AS DOUBLE) / 1000000 ORDER BY j) AS rowl
       |    FROM pe GROUP BY i) t),
       |bvec AS MATERIALIZED (
       |  SELECT list(CAST(p_e6 AS DOUBLE) / 1000000 ORDER BY i) AS bv
       |  FROM pb),
       |$chains
       |SELECT * FROM ($outs) z ORDER BY channel""".stripMargin
  }
}
