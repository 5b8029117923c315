package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Tensors
import graft.operators.{AsofJoin, Components, Fixpoint, PageRank, PrefixSum}

/** Advanced relational + pipeline operators beyond the first coverage pass:
  * as-of join, rollup, exact percentiles, ranking-window family, range
  * (band) join, near-dup connected components, unpivot, semi join, and
  * keep-one-representative dedup. Determinism rules follow OPERATORS.md:
  * money/measure sums as exact integer cents, event time in integer
  * microseconds, transcendental outputs round(6), unique-key tie-breaks in
  * every window ordering.
  */
object AdvancedQueries {

  private def cents(c: Column) = sum(round(c * 100, 0).cast("long"))

  val defs: Seq[QueryDef] = Seq(

    // As-of join: each purchase matched to the latest view at-or-before it
    // by the same user. Spark-first formulation: NO join at all — union the
    // two event kinds and take a running `max` of view-times over a
    // (user, time)-ordered window. One shuffle on user_id, O(n) per
    // partition, no per-row probe — this is the scale path for temporal
    // joins (a broadcast-range-join alternative only works when one side is
    // small). Ties at equal timestamps resolve view-before-purchase
    // (kind 0 < 1), then by event_id — fully deterministic.
    QueryDef("q56_asof_join",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |m AS (
        |  SELECT e.*, max(CASE WHEN kind = 0 THEN ts_us END) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, kind, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
        |  FROM e)
        |SELECT event_id, user_id, ts_us, last_view_us,
        |       ts_us - last_view_us AS gap_us
        |FROM m WHERE kind = 1 AND last_view_us IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      AsofJoin.asof(side("purchase"), side("view"), Seq("user_id"),
          col("ts_us"), col("ts_us"), "last_view_us")
        .where(col("last_view_us").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("last_view_us"),
          (col("ts_us") - col("last_view_us")).as("gap_us"))
        .orderBy("event_id")
    },

    // Attribution on top of the as-of join: conversion counts by view→
    // purchase latency band — how many purchases follow their latest view
    // within 10 minutes / 1 hour / 1 day / longer. Reuses q56's join-free
    // as-of sweep, then one tiny banded aggregate.
    QueryDef("q93_attribution",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |m AS (
        |  SELECT e.*, max(CASE WHEN kind = 0 THEN ts_us END) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, kind, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
        |  FROM e),
        |p AS (SELECT ts_us - lv AS gap_us FROM m
        |      WHERE kind = 1 AND lv IS NOT NULL)
        |SELECT CASE WHEN gap_us <= 600000000 THEN '0_10min'
        |            WHEN gap_us <= 3600000000 THEN '1_hour'
        |            WHEN gap_us <= 86400000000 THEN '2_day'
        |            ELSE '3_longer' END AS band,
        |       count(*) AS n
        |FROM p GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      AsofJoin.asof(side("purchase"), side("view"), Seq("user_id"),
          col("ts_us"), col("ts_us"), "lv")
        .where(col("lv").isNotNull)
        .select((col("ts_us") - col("lv")).as("gap_us"))
        .select(when(col("gap_us") <= 600000000L, "0_10min")
          .when(col("gap_us") <= 3600000000L, "1_hour")
          .when(col("gap_us") <= 86400000000L, "2_day")
          .otherwise("3_longer").as("band"))
        .groupBy("band").agg(count(lit(1)).as("n"))
        .orderBy("band")
    },

    // Rollup over the region ⋈ customer ⋈ orders star: subtotals at
    // (region, priority), (region), and grand-total levels in ONE pass —
    // Expand + single hash aggregate, vs three separate scans+aggs.
    // gid disambiguates aggregation level; names coalesced to 'ALL' so the
    // result relation is null-free.
    QueryDef("q57_rollup",
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(grouping(r_name) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, o_orderpriority)
        |ORDER BY gid, region_name, priority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"),
          (grouping(col("r_name")) * 2 + grouping(col("o_orderpriority")))
            .cast("long").as("gid"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n"), col("cents"))
        .orderBy("gid", "region_name", "priority")
    },

    // Cube: all four aggregation levels of (returnflag, linestatus) in one
    // Expand pass — completes the grouping-sets family next to q57's rollup.
    QueryDef("q68_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
        |         AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS qty_cents
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, flag, status""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          cents(col("l_quantity")).as("qty_cents"),
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("gid"), col("n"), col("qty_cents"))
        .orderBy("gid", "flag", "status")
    },

    // Exact interpolated percentiles (median / p90) per return flag — both
    // engines compute linear interpolation over the sorted values
    // (quantile_cont semantics). Spark's `percentile` is a sort-based
    // aggregate; at 100 TB swap in `percentile_approx` (t-digest sketch,
    // mergeable, single pass) and accept bounded rank error.
    QueryDef("q58_percentiles",
      """SELECT l_returnflag, count(*) AS n,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"))
        .orderBy("l_returnflag")
    },

    // The 100 TB percentile path: percentile_approx — a mergeable sketch
    // with bounded error computed in one pass with map-side partials, vs
    // q58's exact sort-based aggregate. Sketch values differ across engines,
    // but the RANK-ERROR contract (≤ 1/accuracy = 1e-4) is checkable: the
    // returned value's true rank, counted with one extra aggregate over the
    // broadcast-joined estimates, must sit within q ± ε. The oracle asserts
    // TRUE, so a bound violation is a hash mismatch, not a silent pass.
    QueryDef("q96_approx_percentiles",
      """SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val eps = 1.0 / 10000
      val appr = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("p50a"),
          expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("p90a"))
      // ±1 rank slack on top of ε·n: the sketch targets the DISCRETE rank
      // ceil(q·n), which itself sits up to one rank off q·n (measured: 2
      // ranks off where ε·n = 1.99 at sf0.01).
      def rankOk(v: Column, q: Double): Column = {
        val le = sum(when(col("l_extendedprice") <= v, 1L).otherwise(0L))
        val lt = sum(when(col("l_extendedprice") < v, 1L).otherwise(0L))
        le >= count(lit(1)) * (q - eps) - 1 && lt <= count(lit(1)) * (q + eps) + 1
      }
      Tables.lineitem(s, d).join(broadcast(appr), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          rankOk(col("p50a"), 0.5).as("p50_ok"),
          rankOk(col("p90a"), 0.9).as("p90_ok"))
        .orderBy("l_returnflag")
    },

    // Ranking-window family: rank / dense_rank / ntile / lag / lead in one
    // partitioned pass. The ORDER BY key ends in the unique o_orderkey so
    // every function is tie-free deterministic. Output thinned AFTER the
    // window (the window must see full partitions).
    QueryDef("q59_rank_windows",
      """WITH w AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
        |         CAST(rank() OVER win AS BIGINT) AS rnk,
        |         CAST(dense_rank() OVER win AS BIGINT) AS drnk,
        |         CAST(ntile(4) OVER win AS BIGINT) AS quartile,
        |         coalesce(lag(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           OVER win, -1) AS prev_cents,
        |         coalesce(lead(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           OVER win, -1) AS next_cents
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice DESC, o_orderkey))
        |SELECT * FROM w WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderpriority, rnk""".stripMargin) { (s, d) =>
      val win = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val pc = round(col("o_totalprice") * 100, 0).cast("long")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), pc.as("price_cents"),
          rank().over(win).cast("long").as("rnk"),
          dense_rank().over(win).cast("long").as("drnk"),
          ntile(4).over(win).cast("long").as("quartile"),
          coalesce(lag(pc, 1).over(win), lit(-1L)).as("prev_cents"),
          coalesce(lead(pc, 1).over(win), lit(-1L)).as("next_cents"))
        .where(col("o_orderkey") % 10 === 0)
        .orderBy("o_orderpriority", "rnk")
    },

    // Distribution-window family: percent_rank, cume_dist and nth_value
    // complete the ANSI window set next to q59's ranking functions. Unique
    // o_orderkey tie-break keeps every value engine-deterministic.
    QueryDef("q89_window_ratios",
      """WITH w AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         round(percent_rank() OVER win, 6) AS prank,
        |         round(cume_dist() OVER win, 6) AS cdist,
        |         coalesce(CAST(round(nth_value(o_totalprice, 3) OVER
        |           (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100, 0)
        |           AS BIGINT), -1) AS third_price_cents
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice DESC, o_orderkey))
        |SELECT * FROM w WHERE o_orderkey % 25 = 0
        |ORDER BY o_orderpriority, prank""".stripMargin) { (s, d) =>
      val win = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val winRows = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(win), 6).as("prank"),
          round(cume_dist().over(win), 6).as("cdist"),
          coalesce(round(nth_value(col("o_totalprice"), 3).over(winRows) * 100, 0)
            .cast("long"), lit(-1L)).as("third_price_cents"))
        .where(col("o_orderkey") % 25 === 0)
        .orderBy("o_orderpriority", "prank")
    },

    // Range (band) join: lineitem priced into irregular literal price bands
    // via an interval predicate — the general non-equi join the θ/E-band
    // predicates imply across relations (SURVEY §2.3). The band side is
    // tiny → broadcast nested-loop, so the 600 k (→ 100 TB) fact side never
    // shuffles. (A regular-width banding would instead use width_bucket —
    // pure expression, no join at all; the join form covers irregular
    // business-defined bands.)
    QueryDef("q60_range_join",
      """SELECT CAST(b.band_id AS BIGINT) AS band_id, b.lo, b.hi,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM lineitem
        |  JOIN (VALUES (0, 0.0, 2000.0), (1, 2000.0, 10000.0),
        |               (2, 10000.0, 40000.0), (3, 40000.0, 1000000.0))
        |    AS b(band_id, lo, hi)
        |  ON l_extendedprice >= b.lo AND l_extendedprice < b.hi
        |GROUP BY 1, 2, 3 ORDER BY band_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val bands = Seq((0L, 0.0, 2000.0), (1L, 2000.0, 10000.0),
        (2L, 10000.0, 40000.0), (3L, 40000.0, 1000000.0))
        .toDF("band_id", "lo", "hi")
      Tables.lineitem(s, d)
        .join(broadcast(bands),
          col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
        .groupBy("band_id", "lo", "hi")
        .agg(count(lit(1)).as("n"), cents(col("l_extendedprice")).as("price_cents"))
        .orderBy("band_id")
    },

    // Near-duplicate clustering: embedding-cosine pairs (q43's edge set) →
    // connected components by iterative min-label propagation
    // (operators/Components — the distributed dedup-clustering step; each
    // round is one shuffle join). Oracle: recursive-CTE transitive closure
    // computing the same min-reachable-id labeling.
    QueryDef("q61_dedup_components", CcDedup.oracleSql) { (s, d) =>
      Components.connectedComponents(CcDedup.pairs(s, d), "pa", "pb")
        .select(col("id").as("vec_id"), col("comp").as("component"))
        .orderBy("vec_id")
    },

    // The SAME dedup clustering by the large-star/small-star algorithm
    // (Kiveris et al.) — O(log n) rounds instead of O(diameter), the escape
    // hatch for long-chain / giant-component graphs. Identical edge set,
    // identical oracle, identical labels: a hash match proves the algorithm
    // swap preserves semantics exactly.
    QueryDef("q104_cc_large_small_star", CcDedup.oracleSql) { (s, d) =>
      Components.largeStarSmallStar(CcDedup.pairs(s, d), "pa", "pb")
        .select(col("id").as("vec_id"), col("comp").as("component"))
        .orderBy("vec_id")
    },

    // Unpivot (wide→long melt) of three lineitem measures, then aggregated
    // per metric. Measures scaled to exact integer 1e-4 units before the
    // melt so the long-format sums stay engine-exact.
    QueryDef("q62_unpivot",
      """WITH m AS (
        |  SELECT 'quantity' AS metric,
        |         CAST(round(l_quantity * 10000, 0) AS BIGINT) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'extendedprice', CAST(round(l_extendedprice * 10000, 0) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'discount', CAST(round(l_discount * 10000, 0) AS BIGINT)
        |  FROM lineitem)
        |SELECT metric, count(*) AS n, CAST(sum(v) AS BIGINT) AS total_e4
        |FROM m GROUP BY metric ORDER BY metric""".stripMargin) { (s, d) =>
      def e4(c: String) = round(col(c) * 10000, 0).cast("long")
      Tables.lineitem(s, d)
        .select(e4("l_quantity").as("quantity"),
          e4("l_extendedprice").as("extendedprice"),
          e4("l_discount").as("discount"))
        .unpivot(Array.empty[Column],
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "v")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), sum("v").as("total_e4"))
        .orderBy("metric")
    },

    // Left-semi join: customers holding ≥1 urgent order — existence check
    // with NO fan-out (each customer emitted at most once, join stops at
    // first match). The probe side aggregates nothing, so at scale this
    // beats the join+distinct formulation it is equivalent to.
    QueryDef("q63_semi_join",
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },

    // Explicit grouping sets — aggregation at (flag) and (status) levels
    // only, skipping the combined and grand-total levels rollup/cube would
    // add; uses the Dataset.groupingSets API (new in Spark 4).
    QueryDef("q85_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY flag, status""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"))
        .orderBy("flag", "status")
    },

    // Semi-structured VariantType (Spark 4): parse the JSON props column
    // once into a variant and extract typed fields — the shredded-storage
    // path for schema-on-read columns (vs q29's per-query string parsing).
    QueryDef("q86_variant_extract",
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |         AS k_sum,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("k_sum"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // RANGE-frame rolling window: per user, events in the trailing hour at
    // each event — a value-based frame (RANGE BETWEEN 3600s PRECEDING),
    // distinct from every ROWS frame elsewhere: the frame boundary follows
    // the ORDER BY *value*, so ties and gaps are handled by time, not row
    // position. One exchange on user_id, linear per-partition sweep.
    QueryDef("q69_rolling_range",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s
        |  FROM events),
        |r AS (
        |  SELECT event_id, user_id, ts_s,
        |         count(*) OVER (PARTITION BY user_id ORDER BY ts_s
        |           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        |  FROM e)
        |SELECT event_id, user_id, ts_s, CAST(n_last_hour AS BIGINT) AS n_last_hour
        |FROM r WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_s")
        .rangeBetween(-3600L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 1000000").as("ts_s"))
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .where(col("event_id") % 20 === 0)
        .orderBy("event_id")
    },

    // Statistical aggregate family: Pearson correlation, population
    // covariance and stddev per group — single-pass mergeable moment
    // aggregates (the co-moment generalization of q04's Welford fits).
    QueryDef("q70_corr_stats",
      """SELECT l_returnflag, count(*) AS n,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |       round(covar_pop(l_quantity, l_extendedprice), 6) AS covar_qp,
        |       round(stddev_pop(l_discount), 6) AS sd_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 6).as("covar_qp"),
          round(stddev_pop(col("l_discount")), 6).as("sd_disc"))
        .orderBy("l_returnflag")
    },

    // Bag-semantics set difference: order lines whose (flag, status) pair
    // ALSO appears among low-quantity lines are removed copy-for-copy —
    // exceptAll keeps surviving duplicate counts (vs q14's set EXCEPT).
    QueryDef("q72_except_all",
      """WITH a AS (SELECT l_returnflag AS flag, l_linestatus AS status
        |           FROM lineitem WHERE l_quantity >= 30),
        |b AS (SELECT l_returnflag AS flag, l_linestatus AS status
        |      FROM lineitem WHERE l_quantity < 2),
        |d AS (SELECT flag, status FROM a EXCEPT ALL SELECT flag, status FROM b)
        |SELECT flag, status, count(*) AS n FROM d
        |GROUP BY flag, status ORDER BY flag, status""".stripMargin) { (s, d) =>
      val a = Tables.lineitem(s, d).where(col("l_quantity") >= 30)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      val b = Tables.lineitem(s, d).where(col("l_quantity") < 2)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      a.exceptAll(b)
        .groupBy("flag", "status").agg(count(lit(1)).as("n"))
        .orderBy("flag", "status")
    },

    // Edit-distance fuzzy dedup: levenshtein over fixed-length prefixes of
    // same-source docs — the quadratic-kernel complement to the hash-based
    // families (bounded: prefix 32 chars, same-source pairs, low-id slice;
    // the scale path remains LSH candidate generation first, exact edit
    // distance only on candidates).
    QueryDef("q73_edit_distance",
      """WITH p AS (
        |  SELECT doc_id, source, substr(text, 1, 32) AS pre
        |  FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pre, b.pre) <= 20
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val p = Tables.documents(s, d).where(col("doc_id") < 300)
        .select(col("doc_id"), col("source"), substring(col("text"), 1, 32).as("pre"))
      p.as("a").join(p.as("b"),
          col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.pre"), col("b.pre")).cast("long").as("dist"))
        .where(col("dist") <= 20)
        .orderBy("doc_a", "doc_b")
    },

    // Date arithmetic family: day differences against a reference date and
    // distinct-month cardinality per priority — calendar logic kept in exact
    // integer days/periods (both engines compute date-boundary counts in UTC).
    QueryDef("q75_date_arith",
      """SELECT o_orderpriority,
        |       CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
        |         DATE '1998-12-01')) AS BIGINT) AS min_age_days,
        |       CAST(max(date_diff('day', CAST(o_orderdate AS DATE),
        |         DATE '1998-12-01')) AS BIGINT) AS max_age_days,
        |       count(DISTINCT date_trunc('month', o_orderdate)) AS n_months
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val age = datediff(lit("1998-12-01").cast("date"),
        col("o_orderdate").cast("date"))
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(min(age).cast("long").as("min_age_days"),
          max(age).cast("long").as("max_age_days"),
          countDistinct(date_trunc("month", col("o_orderdate"))).as("n_months"))
        .orderBy("o_orderpriority")
    },

    // PageRank over the customer↔supplier interaction graph (bipartite,
    // suppliers offset into their own id space), 2 damped rounds via
    // operators/PageRank — per-edge contributions quantized to integer
    // 1e-12 units so both engines sum exactly. Oracle unrolls the rounds as
    // CTEs; output = top-20 vertices by rank.
    QueryDef("q81_pagerank", {
      s"""WITH ${TradeGraph.pairsSql()},
         |${TradeGraph.edgesSql()},
         |v AS (SELECT DISTINCT id FROM
         |        (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT count(*) AS n FROM v),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS r FROM v CROSS JOIN nn),
         |${PageRank.unrolledSql(2)(PageRank.uniformRankSql)}
         |SELECT id, round(r, 6) AS pagerank FROM r2
         |ORDER BY pagerank DESC, id LIMIT 20""".stripMargin
    }) { (s, d) =>
      // the symmetrized-pair specialization (PageRank.pagerankUndirectedPairs,
      // guide §2.3/§2.4): the pair dedup rides the half-layout repartition and
      // the second E-scale exchange + edge-scale vertex census of the generic
      // union form disappear — bit-identical ranks (exact integer messages)
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
      PageRank.pagerankUndirectedPairs(pairs, iters = 2)
        .select(col("id"), round(col("r"), 6).as("pagerank"))
        .orderBy(col("pagerank").desc, col("id"))
        .limit(20)
    },

    // Hash-seeded Poisson bootstrap — error bars at 100 TB cost: resampling
    // with replacement is impossible over a distributed corpus (it needs
    // global coordination), so production bootstraps give each row a
    // PSEUDO-RANDOM MULTIPLICITY per resample (Poisson(1)-ish) and sweep
    // all B resamples in ONE scan. Here multiplicity = Binomial(3, 1/3)
    // from three salted-hash draws — mean 1 like Poisson(1), bounded ≤ 3,
    // and exactly replayable (never an RNG stream, playbook rule #1). The
    // 32 resample means are exact integer micro-cents; the interval is the
    // stated order statistics (2nd and 31st of 32 — the central ~94%
    // band). One exchange of B×partial cells (map-side combined); the
    // sweep axis and the final 32-row ranking are broadcast-sized.
    QueryDef("q239_bootstrap_ci",
      s"""WITH ax AS (SELECT unnest(range(0, 32)) AS b),
         |r AS (SELECT l_orderkey * 8 + l_linenumber AS key,
         |             CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
         |               AS BIGINT) AS cents
         |      FROM lineitem),
         |m AS (SELECT ax.b, r.cents,
         |        (CASE WHEN (${graft.functions.Hashes.mulHashSql("key * 96 + b * 3 +  0", 77)})
         |              % 3 = 0 THEN 1 ELSE 0 END
         |         + CASE WHEN (${graft.functions.Hashes.mulHashSql("key * 96 + b * 3 +  1", 77)})
         |              % 3 = 0 THEN 1 ELSE 0 END
         |         + CASE WHEN (${graft.functions.Hashes.mulHashSql("key * 96 + b * 3 +  2", 77)})
         |              % 3 = 0 THEN 1 ELSE 0 END) AS mult
         |      FROM r, ax),
         |a AS (SELECT b, CAST(sum(mult) AS BIGINT) AS n,
         |             CAST(sum(mult * cents) AS BIGINT) AS s
         |      FROM m GROUP BY b),
         |means AS (SELECT b, CAST(s * 1000000 // n AS BIGINT) AS mean_mc
         |          FROM a),
         |rk AS (SELECT mean_mc,
         |              row_number() OVER (ORDER BY mean_mc, b) AS rn
         |       FROM means),
         |f AS (SELECT CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
         |        AS mean_mc FROM r)
         |SELECT f.mean_mc AS mean_microcents,
         |       lo.mean_mc AS lo_microcents,
         |       hi.mean_mc AS hi_microcents,
         |       CAST(32 AS BIGINT) AS n_resamples,
         |       lo.mean_mc <= f.mean_mc AND f.mean_mc <= hi.mean_mc
         |         AS ci_contains_point
         |FROM f, (SELECT mean_mc FROM rk WHERE rn = 2) lo,
         |     (SELECT mean_mc FROM rk WHERE rn = 31) hi""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      import s.implicits._
      val r = Tables.lineitem(s, d)
        .select((col("l_orderkey") * 8 + col("l_linenumber")).as("key"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long").as("cents"))
        .persist() // feeds the resample sweep and the point estimate
      val ax = (0L until 32L).toDF("b")
      def draw(j: Int) =
        when(Hashes.mulHash(col("key") * 96 + col("b") * 3 + j, 77) % 3 === 0,
          1L).otherwise(0L)
      val a = r.crossJoin(broadcast(ax))
        .select(col("b"), col("cents"),
          (draw(0) + draw(1) + draw(2)).as("mult"))
        .groupBy("b")
        .agg(sum("mult").as("n"), sum(col("mult") * col("cents")).as("s"))
      val means = a.select(col("b"), expr("s * 1000000 div n").as("mean_mc"))
      val w = Window.partitionBy(lit(1)).orderBy("mean_mc", "b")
      val rk = means.withColumn("rn", row_number().over(w))
      val lo = rk.where(col("rn") === 2).select(col("mean_mc").as("lo_mc"))
      val hi = rk.where(col("rn") === 31).select(col("mean_mc").as("hi_mc"))
      val f = r.agg(expr("sum(cents) * 1000000 div count(*)").as("mean_mc"))
      f.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("mean_mc").as("mean_microcents"),
          col("lo_mc").as("lo_microcents"),
          col("hi_mc").as("hi_microcents"),
          lit(32L).as("n_resamples"),
          (col("lo_mc") <= col("mean_mc") && col("mean_mc") <= col("hi_mc"))
            .as("ci_contains_point"))
    },

    // Label-propagation communities (LPA) — the sixth graph kernel, and a
    // DIFFERENT question than q61's connected components: CC answers "what
    // is reachable", LPA answers "where is the density" — one spatial blob
    // with a thin bridge is ONE component but TWO communities. Synchronous
    // LPA with a fully deterministic update: each vertex adopts the
    // neighbor label with the highest count, ties to the smallest label
    // (raw LPA breaks ties randomly and is famously irreproducible — the
    // deterministic rule is what makes an oracle possible at all). Two
    // rounds over q178's spatial graph; per round one edge-keyed count
    // aggregate + one per-vertex argmax window — O(E) exchanges, label
    // table O(V), the Pregel message shape without any driver state.
    QueryDef("q238_label_propagation",
      s"""WITH ${SpatialEdges.cte},
         |${SpatialLpa.cte}
         |SELECT id, lbl AS community FROM l2 ORDER BY id""".stripMargin) { (s, d) =>
      SpatialLpa.labels(SpatialLpa.edges(SpatialEdges.frame(s, d)))
        .select(col("id"), col("lbl").as("community"))
        .orderBy("id")
    },

    // Modularity score — the missing EVALUATION half of community
    // detection (Newman & Girvan): q238 produces communities, this grades
    // them. Q = Σ_c (e_c/m − (d_c/2m)²) over the SAME deterministic
    // 2-round LPA labels; computed EXACTLY as the integer numerator
    // Σ_c (4·m·e_c − d_c²) over 4m² (every term a BIGINT — e_c from one
    // edge-endpoint label join, d_c from the degree census, m from the
    // undirected edge count; nothing floats until the final ppm-style
    // quantization, which states FLOOR explicitly on both engines because
    // a negative numerator would floor vs truncate differently). Output:
    // the 10 largest communities with their internal-edge/degree mass,
    // each row carrying the global q_e6 — the number a clustering
    // dashboard prints. Scale: the grading adds two keyed aggregates and
    // one broadcast 1-row total on top of LPA's own exchanges.
    QueryDef("q270_modularity",
      s"""WITH ${SpatialEdges.cte},
         |${SpatialLpa.cte},
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |dg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |       FROM ed GROUP BY src),
         |cm AS MATERIALIZED (
         |  SELECT l2.lbl AS community, CAST(count(*) AS BIGINT) AS size,
         |         CAST(sum(dg.deg) AS BIGINT) AS d_sum
         |  FROM l2 JOIN dg ON dg.id = l2.id GROUP BY l2.lbl),
         |ein AS (SELECT lu.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
         |        FROM e0 JOIN l2 lu ON lu.id = e0.u
         |                JOIN l2 lv ON lv.id = e0.v
         |        WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
         |parts AS (SELECT cm.community, cm.size, cm.d_sum,
         |            CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in
         |          FROM cm LEFT JOIN ein USING (community)),
         |num AS (SELECT CAST(sum(4 * m.m * e_in - d_sum * d_sum) AS BIGINT)
         |          AS num, CAST(4 * m.m * m.m AS BIGINT) AS den
         |        FROM parts, m GROUP BY m.m),
         |q AS (SELECT CASE WHEN num >= 0 THEN num * 1000000 // den
         |             ELSE -(((-num) * 1000000 + den - 1) // den) END AS q_e6
         |      FROM num)
         |SELECT community, size, e_in, d_sum, CAST(q_e6 AS BIGINT) AS q_e6
         |FROM (SELECT p.*, q.q_e6,
         |        row_number() OVER (ORDER BY p.size DESC, p.community) AS rn
         |      FROM parts p, q) t
         |WHERE rn <= 10 ORDER BY size DESC, community""".stripMargin) { (s, d) =>
      val e0 = SpatialEdges.frame(s, d).persist() // LPA rounds + m + e_in
      val ed = SpatialLpa.edges(e0) // also feeds the degree census
      val l2 = SpatialLpa.labels(ed).persist() // d_sum census + e_in join
      val m = e0.agg(count(lit(1)).as("m"))
      val dg = ed.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val cm = l2.join(dg, "id")
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("size"), sum("deg").as("d_sum"))
      val ein = e0
        .join(l2.select(col("id").as("u"), col("lbl").as("lu")), "u")
        .join(l2.select(col("id").as("v"), col("lbl").as("lv")), "v")
        .where(col("lu") === col("lv"))
        .groupBy(col("lu").as("community")).agg(count(lit(1)).as("e_in"))
      val parts = cm.join(ein, Seq("community"), "left")
        .select(col("community"), col("size"), col("d_sum"),
          coalesce(col("e_in"), lit(0L)).as("e_in"))
        .crossJoin(broadcast(m))
        .persist() // the global numerator and the ranked output both scan it
      val nd = parts
        .agg(sum(lit(4) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          .as("num"), max(expr("4 * m * m")).as("den"))
      val q = nd.select(
        when(col("num") >= 0, expr("num * 1000000 div den"))
          .otherwise(-expr("((-num) * 1000000 + den - 1) div den"))
          .as("q_e6"))
      // top-10 communities via TakeOrdered — the community census is
      // graph-scale, so no rank window at all (round 13); the total order
      // makes the limit ≡ the oracle's rank<=10 filter
      parts.crossJoin(broadcast(q))
        .orderBy(col("size").desc, col("community")).limit(10)
        .select("community", "size", "e_in", "d_sum", "q_e6")
        .orderBy(col("size").desc, col("community"))
    },

    // HITS hubs & authorities — the fifth graph kernel (PageRank / CC /
    // triangles / k-core / HITS), on the graph HITS was designed for: the
    // DIRECTED customer→supplier purchase bipartition, where hub score
    // (customer breadth) and authority score (supplier endorsement mass)
    // are genuinely different quantities — PageRank's single score can't
    // separate them. Two mutual-reinforcement rounds, and unlike q81's
    // quantize-the-float-contributions design this one is EXACT INTEGER
    // arithmetic end to end: L1 normalization (mass units, not L2) makes
    // every step a BIGINT sum + one integer division against a broadcast
    // 1-row total — no float ever crosses a row boundary, so any partition
    // order sums identically. Unit choices are overflow-proofs, not taste:
    // authorities carry 1e9 units (raw ≤ n·1e6 → ×1e9 < 2⁶³), hubs carry
    // 1e6 (raw ≤ deg·1e9 → ×1e6 < 2⁶³). Scale: each half-round is one
    // edge-keyed exchange + a k-row total broadcast back, exactly the
    // PageRank message shape.
    QueryDef("q230_hits",
      s"""WITH ${TradeGraph.pairsSql(materialized = true)},
        |a1r AS (SELECT s, CAST(count(*) AS BIGINT) * 1000000 AS raw
        |        FROM pairs GROUP BY s),
        |t1 AS (SELECT CAST(sum(raw) AS BIGINT) AS t FROM a1r),
        |a1 AS (SELECT s, CAST(raw * 1000000000 // t1.t AS BIGINT) AS a
        |       FROM a1r CROSS JOIN t1),
        |h1r AS (SELECT p.c, CAST(sum(a1.a) AS BIGINT) AS raw
        |        FROM pairs p JOIN a1 ON a1.s = p.s GROUP BY p.c),
        |u1 AS (SELECT CAST(sum(raw) AS BIGINT) AS u FROM h1r),
        |h1 AS (SELECT c, CAST(raw * 1000000 // u1.u AS BIGINT) AS h
        |       FROM h1r CROSS JOIN u1),
        |a2r AS (SELECT p.s, CAST(sum(h1.h) AS BIGINT) AS raw
        |        FROM pairs p JOIN h1 ON h1.c = p.c GROUP BY p.s),
        |t2 AS (SELECT CAST(sum(raw) AS BIGINT) AS t FROM a2r),
        |a2 AS (SELECT s, CAST(raw * 1000000000 // t2.t AS BIGINT) AS a
        |       FROM a2r CROSS JOIN t2),
        |h2r AS (SELECT p.c, CAST(sum(a2.a) AS BIGINT) AS raw
        |        FROM pairs p JOIN a2 ON a2.s = p.s GROUP BY p.c),
        |u2 AS (SELECT CAST(sum(raw) AS BIGINT) AS u FROM h2r),
        |h2 AS (SELECT c, CAST(raw * 1000000 // u2.u AS BIGINT) AS h
        |       FROM h2r CROSS JOIN u2),
        |ta AS (SELECT 'auth' AS kind, s AS id, a AS score,
        |              row_number() OVER (ORDER BY a DESC, s) AS rank
        |       FROM a2),
        |th AS (SELECT 'hub' AS kind, c AS id, h AS score,
        |              row_number() OVER (ORDER BY h DESC, c) AS rank
        |       FROM h2)
        |SELECT kind, CAST(rank AS BIGINT) AS rank, id, score
        |FROM (SELECT * FROM ta WHERE rank <= 15
        |      UNION ALL SELECT * FROM th WHERE rank <= 15)
        |ORDER BY kind, rank""".stripMargin) { (s, d) =>
      // Persist the pair relation HASH-CLUSTERED BY c (guide §2.4): the
      // dedup rides the explicit repartition (hash(c) clusters (c, s)),
      // and both hub half-rounds' groupBy("c") then aggregate the cached
      // layout with NO exchange — only the two supplier-side groupBys
      // still shuffle, and those reduce map-side to the k-row supplier
      // census. Measured: 2,031,383 → ~0.7M shuffle records per rep.
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .repartition(col("c")).distinct()
        .persist() // four half-round message joins reuse it
      def normed(raw: org.apache.spark.sql.DataFrame, key: String,
                 unit: Long, out: String) = {
        val t = raw.agg(sum("raw").as("t"))
        raw.crossJoin(broadcast(t))
          .select(col(key), expr(s"raw * $unit div t").as(out))
          // each half-round feeds the NEXT round and (for the final two)
          // its own ranked output branch — without this the ta/th union
          // re-derives the whole mutual-reinforcement chain per branch
          .persist()
      }
      // the score side of every half-round join is a ≤|C|- or |S|-sized
      // aggregate (graph-node statistics, never the pair relation) — the
      // broadcast hint PINS the join strategy the size estimator already
      // picks (golden unchanged, wall time unchanged), so an estimator or
      // AQE-config drift can never degrade it to re-shuffling `pairs`
      // four times; the 1.3×-anchor wall time is job-launch overhead of
      // the persisted half-rounds, not exchange volume (19 MB shuffle
      // read total at sf0.1 per BENCH shuffle telemetry)
      val a1 = normed(
        pairs.groupBy("s").agg((count(lit(1)) * 1000000L).as("raw")),
        "s", 1000000000L, "a")
      val h1 = normed(
        pairs.join(broadcast(a1), "s").groupBy("c").agg(sum("a").as("raw")),
        "c", 1000000L, "h")
      val a2 = normed(
        pairs.join(broadcast(h1), "c").groupBy("s").agg(sum("h").as("raw")),
        "s", 1000000000L, "a")
      val h2 = normed(
        pairs.join(broadcast(a2), "s").groupBy("c").agg(sum("a").as("raw")),
        "c", 1000000L, "h")
      // TakeOrdered bounds each side to 15 rows BEFORE the rank window
      // (round 13: the partitionBy("kind") literal constant-folds away,
      // leaving a partition-less window over the node-scale score
      // relations — limit-first makes it a 15-row statistic)
      val ta = a2.orderBy(col("a").desc, col("s")).limit(15)
        .select(lit("auth").as("kind"), col("s").as("id"),
          col("a").as("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id"))))
      val th = h2.orderBy(col("h").desc, col("c")).limit(15)
        .select(lit("hub").as("kind"), col("c").as("id"),
          col("h").as("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id"))))
      ta.unionAll(th)
        .select(col("kind"), col("rank").cast("long").as("rank"),
          col("id"), col("score"))
        .orderBy("kind", "rank")
    },

    // Array-function family: element extrema, ordered slice fold, and
    // first-position lookup over the embedding arrays — the builtin
    // array-op surface (array_max/min, slice, aggregate, array_position)
    // exercised as exact scalar outputs.
    QueryDef("q95_array_ops",
      """SELECT vec_id,
        |       round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
        |       round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
        |       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(embedding[1:3], v -> CAST(v AS DOUBLE))),
        |         (a, b) -> a + b), 6) AS first3_sum,
        |       CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
        |         AS max_pos
        |FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).where(col("vec_id") < 200)
        .select(col("vec_id"),
          round(array_max(col("embedding")).cast("double"), 6).as("vmax"),
          round(array_min(col("embedding")).cast("double"), 6).as("vmin"),
          round(aggregate(slice(col("embedding"), 1, 3),
            lit(0.0), (a, b) => a + b.cast("double")), 6).as("first3_sum"),
          array_position(col("embedding"), array_max(col("embedding")))
            .cast("long").as("max_pos"))
        .orderBy("vec_id")
    },

    // Supplier/part sourcing rollout: revenue per (supplier nation, brand)
    // over lineitem ⋈ part ⋈ supplier ⋈ nation — completes fixture-table
    // coverage (part and supplier). supplier/nation are forced broadcast;
    // part is left to AQE (it grows with scale — at the 100 TB point it may
    // need a shuffle join, and AQE makes that call from actual sizes).
    QueryDef("q84_supplier_parts",
      """SELECT n_name, p_brand, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |         AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, p_brand ORDER BY n_name, p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "p_brand")
        .agg(count(lit(1)).as("n"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue_cents"))
        .orderBy("n_name", "p_brand")
    },

    // Keep-one-representative dedup: within each (lang, source) group keep
    // the longest document (ties → smallest doc_id) — the canonical
    // "best URL per near-dup cluster" selection, as a rank-1 window.
    QueryDef("q64_keep_best",
      """WITH r AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY lang, source
        |           ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1
        |ORDER BY lang, source""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang", "source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("lang", "source")
    },

    // Grid-bucketed spatial self-join: all point pairs within radius 25 on
    // a 1000×1000 plane (coordinates are salted hashes of the key, so the
    // layout is deterministic and oracle-replayable). The 2-d instance of
    // the banded-join discipline used everywhere else in this engine: cell
    // = ⌊coord/r⌋, the left side explodes to its 3×3 neighborhood, and the
    // equi-join on cell keys makes candidates O(n·density) — never the n²
    // cross join the oracle states (any qualifying pair's cells differ by
    // ≤ 1 per axis, and each pair matches on exactly ONE offset, so the
    // prefilter is lossless and duplicate-free). Integer arithmetic end to
    // end — no float determinism surface at all.
    QueryDef("q178_spatial_join",
      s"""WITH p AS (SELECT c_custkey AS id,
         |         (${graft.functions.Hashes.mulHashSql("c_custkey", 11)}) % 1000 AS x,
         |         (${graft.functions.Hashes.mulHashSql("c_custkey", 13)}) % 1000 AS y
         |       FROM customer)
         |SELECT a.id AS a_id, b.id AS b_id,
         |       CAST((a.x - b.x) * (a.x - b.x)
         |            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
         |FROM p a JOIN p b
         |  ON a.id < b.id
         | AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      val r = 25
      val pts = Tables.customer(s, d).select(col("c_custkey").as("id"),
        (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
        (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
      val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
      val a = pts
        .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
          explode(offsets).as("off"))
        .select(col("a_id"), col("ax"), col("ay"),
          (expr("ax div 25") + col("off.dx")).as("cx"),
          (expr("ay div 25") + col("off.dy")).as("cy"))
      val b = pts.select(col("id").as("b_id"), col("x").as("bx"),
        col("y").as("by"), expr("bx div 25").as("cx"), expr("by div 25").as("cy"))
      a.join(b, Seq("cx", "cy"))
        .where(col("a_id") < col("b_id")
          && (col("ax") - col("bx")) * (col("ax") - col("bx"))
             + (col("ay") - col("by")) * (col("ay") - col("by")) <= r * r)
        .select(col("a_id"), col("b_id"),
          ((col("ax") - col("bx")) * (col("ax") - col("bx"))
            + (col("ay") - col("by")) * (col("ay") - col("by"))).as("dist2"))
        .orderBy("a_id", "b_id")
    },

    // Entity resolution: the classic block → verify → cluster pipeline over
    // a dirtied record set (100 planted clones with a 2-substitution prefix
    // perturbation). Blocking on (source, 8-char prefix) bounds candidates
    // at O(block²) — never all-pairs (the record-linkage form of the banded
    // join); the edit-distance verify runs on candidates only; matched pairs
    // cluster through the SAME min-label components machinery as q61, and
    // every record resolves to coalesce(component, own id). One natural
    // pair also merges (dist ≤ 5) — deterministic on both engines, and
    // exactly what ER is for. The oracle replays blocking + verify and
    // closes the match graph with a recursive CTE (the q61 dual).
    QueryDef("q180_entity_resolution",
      """WITH RECURSIVE p AS (
        |  SELECT doc_id AS rid, source, substr(text, 1, 32) AS pre
        |  FROM documents),
        |c AS (
        |  SELECT doc_id + 1000000 AS rid, source,
        |         substr(text, 1, 30) || ' x' AS pre
        |  FROM documents WHERE doc_id < 100),
        |r AS (SELECT * FROM p UNION ALL SELECT * FROM c),
        |cand AS (
        |  SELECT a.rid AS ra, b.rid AS rb
        |  FROM r a JOIN r b
        |    ON a.source = b.source
        |   AND substr(a.pre, 1, 8) = substr(b.pre, 1, 8)
        |   AND a.rid < b.rid
        |  WHERE levenshtein(a.pre, b.pre) <= 5),
        |e AS MATERIALIZED (SELECT ra AS ea, rb AS eb FROM cand
        |      UNION ALL SELECT rb, ra FROM cand),
        |reach(rv, rr) AS (
        |  SELECT DISTINCT ea, ea FROM e
        |  UNION
        |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
        |comp AS (SELECT rv, min(rr) AS cmin FROM reach GROUP BY rv)
        |SELECT r.rid, coalesce(comp.cmin, r.rid) AS entity_id,
        |       (comp.cmin IS NOT NULL AND comp.cmin <> r.rid) AS merged
        |FROM r LEFT JOIN comp ON r.rid = comp.rv
        |ORDER BY rid""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
      val p = base.select(col("doc_id").as("rid"), col("source"),
        substring(col("text"), 1, 32).as("pre"))
      val c = base.where(col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("rid"), col("source"),
          concat(substring(col("text"), 1, 30), lit(" x")).as("pre"))
      val r = p.unionAll(c).persist() // feeds blocking sides + the resolve join
      val cand = r.as("a").join(r.as("b"),
          col("a.source") === col("b.source")
            && substring(col("a.pre"), 1, 8) === substring(col("b.pre"), 1, 8)
            && col("a.rid") < col("b.rid"))
        .where(levenshtein(col("a.pre"), col("b.pre")) <= 5)
        .select(col("a.rid").as("ra"), col("b.rid").as("rb"))
      val comp = Components.connectedComponents(cand, "ra", "rb")
      r.join(comp, r("rid") === comp("id"), "left")
        .select(col("rid"), coalesce(col("comp"), col("rid")).as("entity_id"),
          (col("comp").isNotNull && col("comp") =!= col("rid")).as("merged"))
        .orderBy("rid")
    },

    // Multi-pass blocking entity resolution: q180's single blocking key
    // (8-char PREFIX) is structurally blind to perturbations that land in
    // the key itself — a clone whose corruption hits the first characters
    // never shares a block with its original, however small the edit
    // distance. Production ER unions SEVERAL blocking passes so a pair only
    // needs to survive ONE of them. Here: pass P blocks on the prefix, pass
    // S on an 8-char key taken from the END of the 32-char window. Two
    // planted clone families prove the point — tail-perturbed clones
    // (+1 000 000) are caught by P, head-perturbed clones (+2 000 000) are
    // INVISIBLE to P but caught by S, because their corruption and their
    // blocking key live at opposite ends of the record. Mechanics: each
    // record explodes to (pass-tagged key) rows, candidates come from ONE
    // equi-join on (source, tagged key) — per-pass candidate sets union and
    // pair-dedup inside the same shuffle, never all-pairs — then the
    // levenshtein verify runs on candidates only and matches cluster through
    // the q61 components machinery. Scale: blocking keys bound block sizes
    // exactly as q180; the union multiplies candidate volume by the number
    // of passes (2), not by n.
    QueryDef("q182_er_multipass",
      """WITH RECURSIVE p AS (
        |  SELECT doc_id AS rid, source, substr(text, 1, 32) AS pre
        |  FROM documents),
        |c1 AS (
        |  SELECT doc_id + 1000000 AS rid, source,
        |         substr(text, 1, 30) || ' x' AS pre
        |  FROM documents WHERE doc_id < 50),
        |c2 AS (
        |  SELECT doc_id + 2000000 AS rid, source,
        |         'x ' || substr(text, 3, 30) AS pre
        |  FROM documents WHERE doc_id >= 50 AND doc_id < 100),
        |r AS (SELECT * FROM p UNION ALL SELECT * FROM c1
        |      UNION ALL SELECT * FROM c2),
        |blocks AS (
        |  SELECT rid, source, pre, 'P:' || substr(pre, 1, 8) AS bkey FROM r
        |  UNION ALL
        |  SELECT rid, source, pre, 'S:' || substr(pre, 25, 8) AS bkey FROM r),
        |cand AS (
        |  SELECT DISTINCT a.rid AS ra, b.rid AS rb
        |  FROM blocks a JOIN blocks b
        |    ON a.source = b.source AND a.bkey = b.bkey AND a.rid < b.rid
        |  WHERE levenshtein(a.pre, b.pre) <= 5),
        |e AS MATERIALIZED (SELECT ra AS ea, rb AS eb FROM cand
        |      UNION ALL SELECT rb, ra FROM cand),
        |reach(rv, rr) AS (
        |  SELECT DISTINCT ea, ea FROM e
        |  UNION
        |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
        |comp AS (SELECT rv, min(rr) AS cmin FROM reach GROUP BY rv)
        |SELECT r.rid, coalesce(comp.cmin, r.rid) AS entity_id,
        |       (comp.cmin IS NOT NULL AND comp.cmin <> r.rid) AS merged
        |FROM r LEFT JOIN comp ON r.rid = comp.rv
        |ORDER BY rid""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
      val p = base.select(col("doc_id").as("rid"), col("source"),
        substring(col("text"), 1, 32).as("pre"))
      val c1 = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("rid"), col("source"),
          concat(substring(col("text"), 1, 30), lit(" x")).as("pre"))
      val c2 = base.where(col("doc_id") >= 50 && col("doc_id") < 100)
        .select((col("doc_id") + 2000000L).as("rid"), col("source"),
          concat(lit("x "), substring(col("text"), 3, 30)).as("pre"))
      val r = p.unionAll(c1).unionAll(c2).persist() // blocking sides + resolve
      val blocks = r.select(col("rid"), col("source"), col("pre"),
        explode(array(
          concat(lit("P:"), substring(col("pre"), 1, 8)),
          concat(lit("S:"), substring(col("pre"), 25, 8)))).as("bkey"))
      val cand = blocks.as("a").join(blocks.as("b"),
          col("a.source") === col("b.source")
            && col("a.bkey") === col("b.bkey")
            && col("a.rid") < col("b.rid"))
        .where(levenshtein(col("a.pre"), col("b.pre")) <= 5)
        .select(col("a.rid").as("ra"), col("b.rid").as("rb"))
        .distinct()
      val comp = Components.connectedComponents(cand, "ra", "rb")
      r.join(comp, r("rid") === comp("id"), "left")
        .select(col("rid"), coalesce(col("comp"), col("rid")).as("entity_id"),
          (col("comp").isNotNull && col("comp") =!= col("rid")).as("merged"))
        .orderBy("rid")
    },

    // Phonetic-key blocking: the third ER pass the handoff flagged as open.
    // Prefix (P) and suffix (S) blocks are both structurally blind to
    // SPELLING-preserving corruption — a disemvoweled clone ("mchn lrnng")
    // shares no 8-char window with its original anywhere, yet any human
    // would merge them. Pass F blocks on the first 8 digits of a
    // consonant-class code (the Soundex idea minus the RE2-unstatable
    // adjacent-run collapse): lowercase, strip digits, map b/f/p/v→1,
    // c/g/j/k/q/s/x/z→2, d/t→3, l→4, m/n→5, r→6, drop everything else.
    // Removing vowels is a NO-OP under this code, so original and clone get
    // identical keys AND identical full skeletons. Verify is per-pass-aware:
    // raw levenshtein ≤ 5 (the q180 rule) OR skeleton-prefix equality with
    // skeleton levenshtein ≤ 2 — the planted family (+3 000 000) fails the
    // first arm (one edit per removed vowel) and passes the second at
    // distance 0. Every regex lives in the Java∩RE2-identical subset
    // (character classes only, no backreferences — playbook rule #9).
    // Scale: a third pass multiplies candidate volume ×1.5, not ×n; the
    // 6-class 8-digit key space keeps phonetic blocks bounded.
    QueryDef("q228_er_phonetic",
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_id AS rid, source, substr(text, 1, 32) AS pre
         |  FROM documents),
         |c3 AS (
         |  SELECT doc_id + 3000000 AS rid, source,
         |         regexp_replace(substr(text, 1, 32), '[aeiou]', '', 'g') AS pre
         |  FROM documents WHERE doc_id < 100),
         |r AS (SELECT * FROM p UNION ALL SELECT * FROM c3),
         |sk AS (SELECT rid, source, pre,
         |         ${PhoneticSql.skel("pre")} AS skel
         |       FROM r),
         |blocks AS (
         |  SELECT rid, source, pre, skel, 'P:' || substr(pre, 1, 8) AS bkey
         |  FROM sk
         |  UNION ALL
         |  SELECT rid, source, pre, skel, 'S:' || substr(pre, 25, 8) AS bkey
         |  FROM sk
         |  UNION ALL
         |  SELECT rid, source, pre, skel, 'F:' || substr(skel, 1, 8) AS bkey
         |  FROM sk),
         |cand AS (
         |  SELECT DISTINCT a.rid AS ra, b.rid AS rb
         |  FROM blocks a JOIN blocks b
         |    ON a.source = b.source AND a.bkey = b.bkey AND a.rid < b.rid
         |  WHERE levenshtein(a.pre, b.pre) <= 5
         |     OR (substr(a.skel, 1, 8) = substr(b.skel, 1, 8)
         |         AND levenshtein(a.skel, b.skel) <= 2)),
         |e AS MATERIALIZED (SELECT ra AS ea, rb AS eb FROM cand
         |      UNION ALL SELECT rb, ra FROM cand),
         |reach(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
         |comp AS (SELECT rv, min(rr) AS cmin FROM reach GROUP BY rv)
         |SELECT r.rid, coalesce(comp.cmin, r.rid) AS entity_id,
         |       (comp.cmin IS NOT NULL AND comp.cmin <> r.rid) AS merged
         |FROM r LEFT JOIN comp ON r.rid = comp.rv
         |ORDER BY rid""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
      val p = base.select(col("doc_id").as("rid"), col("source"),
        substring(col("text"), 1, 32).as("pre"))
      val c3 = base.where(col("doc_id") < 100)
        .select((col("doc_id") + 3000000L).as("rid"), col("source"),
          regexp_replace(substring(col("text"), 1, 32), "[aeiou]", "").as("pre"))
      val r = p.unionAll(c3).persist() // blocking sides + the resolve join
      val sk = r.withColumn("skel", PhoneticSql.skelCol(col("pre")))
      val blocks = sk.select(col("rid"), col("source"), col("pre"), col("skel"),
        explode(array(
          concat(lit("P:"), substring(col("pre"), 1, 8)),
          concat(lit("S:"), substring(col("pre"), 25, 8)),
          concat(lit("F:"), substring(col("skel"), 1, 8)))).as("bkey"))
      val cand = blocks.as("a").join(blocks.as("b"),
          col("a.source") === col("b.source")
            && col("a.bkey") === col("b.bkey")
            && col("a.rid") < col("b.rid"))
        .where(levenshtein(col("a.pre"), col("b.pre")) <= 5
          || (substring(col("a.skel"), 1, 8) === substring(col("b.skel"), 1, 8)
              && levenshtein(col("a.skel"), col("b.skel")) <= 2))
        .select(col("a.rid").as("ra"), col("b.rid").as("rb"))
        .distinct()
      val comp = Components.connectedComponents(cand, "ra", "rb")
      r.join(comp, r("rid") === comp("id"), "left")
        .select(col("rid"), coalesce(col("comp"), col("rid")).as("entity_id"),
          (col("comp").isNotNull && col("comp") =!= col("rid")).as("merged"))
        .orderBy("rid")
    },

    // Triangle counting by degree-ordered orientation — the third graph
    // kernel next to q81's PageRank and q61's components, and the canonical
    // "curse of the last reducer" algorithm (Suri & Vassilvitskii, WWW'11):
    // orient every edge from its lower-(degree, id) endpoint to the higher,
    // so each triangle {x,y,z} is counted EXACTLY once as a wedge at its
    // lowest-rank vertex, and — the scale point — the wedge self-join fans
    // out on OUT-degree, which the orientation bounds by O(√m) even when raw
    // degrees are power-law skewed. A hub of degree d contributes d·(d-1)/2
    // wedges unoriented but only ~m/2 oriented; that is the difference
    // between a dead reducer and a balanced shuffle at 100 TB. Graph: q178's
    // deterministic spatial edge set (pairs within radius 25), built with the
    // same lossless grid-bucket equi-join — never n². Three exchanges total
    // (degree census, wedge join, closing-edge join); the oracle states the
    // identical orientation in SQL over the n² edge build.
    QueryDef("q184_triangles",
      s"""WITH ${SpatialEdges.cte},
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
         |        FROM (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
         |        GROUP BY id),
         |o AS (SELECT CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
         |                  THEN u ELSE v END AS src,
         |             CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
         |                  THEN v ELSE u END AS dst,
         |             CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
         |                  THEN dv.dg ELSE du.dg END AS ddst
         |      FROM e0 JOIN deg du ON e0.u = du.id
         |               JOIN deg dv ON e0.v = dv.id),
         |w AS (SELECT x.src AS apex, x.dst AS a, y.dst AS b
         |      FROM o x JOIN o y ON x.src = y.src
         |       AND ((x.ddst < y.ddst) OR (x.ddst = y.ddst AND x.dst < y.dst))),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |      FROM w JOIN o ON w.a = o.src AND w.b = o.dst)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
         |       (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
         |       t.n_triangles
         |FROM t""".stripMargin) { (s, d) =>
      val e0 = SpatialEdges.frame(s, d)
        .persist() // feeds degree census, orientation, and the edge count
      val deg = e0.select(col("u").as("id")).unionAll(e0.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
      val du = deg.withColumnsRenamed(Map("id" -> "u", "dg" -> "du"))
      val dv = deg.withColumnsRenamed(Map("id" -> "v", "dg" -> "dv"))
      val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
      val o = e0.join(du, Seq("u")).join(dv, Seq("v"))
        .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
        .persist() // wedge self-join probes it twice + the closing-edge join
      val w = o.as("x").join(o.as("y"),
          col("x.src") === col("y.src")
            && (col("x.ddst") < col("y.ddst")
              || (col("x.ddst") === col("y.ddst") && col("x.dst") < col("y.dst"))))
        .select(col("x.dst").as("a"), col("y.dst").as("b"))
      val nTri = w.join(o, col("a") === col("src") && col("b") === col("dst"))
        .agg(count(lit(1)).as("n_triangles"))
      val nEdges = e0.agg(count(lit(1)).as("n_edges"))
      val nWedges = w.agg(count(lit(1)).as("n_wedges"))
      nEdges.crossJoin(broadcast(nWedges)).crossJoin(broadcast(nTri))
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"))
    },

    // 2-core decomposition by iterative peeling (operators/KCore) — the
    // fourth graph kernel, and a different iteration SHAPE from the other
    // three: PageRank iterates a fixed number of value-propagation rounds,
    // components iterates to a reachability fixpoint, and k-core iterates a
    // monotone DELETION (drop degree-<k vertices, restrict edges, repeat)
    // whose fixpoint is the maximal subgraph of min-degree k. Four peel
    // rounds are stated as chained CTEs on both engines — a SQL oracle
    // cannot loop — and `converged` pins the fixpoint claim itself: it
    // compares the last two edge sets in-plan, so the answer self-certifies
    // that 4 rounds sufficed (the spatial 2-core converges in ≤ 2 peels at
    // every SF; a production run would drive rounds by the observe()-fused
    // change count like Components). Per round: one map-side-combined degree
    // census + two semi-joins, edge set monotonically shrinking — at 100 TB
    // the first census dominates and every later round is cheaper.
    QueryDef("q187_kcore",
      // the peel CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and each
      // round references the previous one several times — unmaterialized,
      // e5 would expand e0 2^5-fold (the exponential-inlining trap the
      // Hilbert CTE chain documents)
      s"""WITH ${SpatialEdges.cte},
         |${(1 to 5).map(i =>
           s"""d${i - 1} AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS dg
              |        FROM (SELECT u AS id FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
              |        GROUP BY id),
              |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
              |       WHERE u IN (SELECT id FROM d${i - 1} WHERE dg >= 2)
              |         AND v IN (SELECT id FROM d${i - 1} WHERE dg >= 2))""")
             .mkString(",\n")},
         |d5 AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
         |       FROM (SELECT u AS id FROM e5 UNION ALL SELECT v FROM e5)
         |       GROUP BY id)
         |SELECT id, dg,
         |       ((SELECT count(*) FROM e5) = (SELECT count(*) FROM e4))
         |         AS converged
         |FROM d5 ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.KCore
      val states = KCore.peel(SpatialEdges.frame(s, d), k = 2, rounds = 5)
      val prev = states(states.size - 2)
      val last = states.last
      val nPrev = prev.agg(count(lit(1)).as("np"))
      val nLast = last.agg(count(lit(1)).as("nl"))
      KCore.coreVertices(last)
        .crossJoin(broadcast(nPrev.crossJoin(nLast)))
        .select(col("id"), col("dg"), (col("nl") === col("np")).as("converged"))
        .orderBy("id")
    },

    // Negative-edge sampling for link prediction — the training-data prep a
    // graph-embedding pipeline needs: positives are the spatial edge set,
    // negatives are deterministic hash-drawn vertex pairs (4× the positive
    // count, the usual oversampling) ANTI-JOINED against the edges so no
    // true edge leaks into the negative class. Randomness is the salted
    // hash family (playbook rule 1), so the sampled pair SET — not just its
    // size — is engine-identical, and the `enough` column certifies the
    // draw survived dedup/self-pair/edge removal with at least one negative
    // per positive. Scale: candidate volume is a multiple of |E|, never
    // |V|²; the anti-join is one key-partitioned exchange.
    QueryDef("q207_negative_edges",
      s"""WITH ${SpatialEdges.cte},
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pos FROM e0),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
         |idx AS (SELECT unnest(range(0, 4 * (SELECT n_pos FROM np))) AS i),
         |cand AS (SELECT (${graft.functions.Hashes.mulHashSql("i", 19)})
         |                  % (SELECT n FROM nc) AS a,
         |                (${graft.functions.Hashes.mulHashSql("i", 23)})
         |                  % (SELECT n FROM nc) AS b
         |         FROM idx),
         |valid AS (SELECT DISTINCT a, b FROM cand WHERE a < b),
         |neg AS (SELECT a, b FROM valid vv WHERE NOT EXISTS
         |        (SELECT 1 FROM e0 WHERE e0.u = vv.a AND e0.v = vv.b))
         |SELECT np.n_pos, CAST(4 * np.n_pos AS BIGINT) AS n_candidates,
         |       (SELECT CAST(count(*) AS BIGINT) FROM neg) AS n_neg,
         |       (SELECT count(*) FROM neg) >= np.n_pos AS enough
         |FROM np""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      val e0 = SpatialEdges.frame(s, d).persist() // positives + the anti side
      val np = e0.agg(count(lit(1)).as("n_pos"))
      val nc = Tables.customer(s, d).agg(count(lit(1)).as("n"))
      val cand = np.crossJoin(broadcast(nc))
        .select(explode(sequence(lit(0L), col("n_pos") * 4 - 1)).as("i"),
          col("n"))
        .select((Hashes.mulHash(col("i"), 19) % col("n")).as("a"),
          (Hashes.mulHash(col("i"), 23) % col("n")).as("b"))
      val neg = cand.where(col("a") < col("b")).distinct()
        .join(e0, col("a") === col("u") && col("b") === col("v"), "left_anti")
      val nNeg = neg.agg(count(lit(1)).as("n_neg"))
      np.crossJoin(broadcast(nNeg))
        .select(col("n_pos"), (col("n_pos") * 4).as("n_candidates"),
          col("n_neg"), (col("n_neg") >= col("n_pos")).as("enough"))
    },

    // Link-prediction evaluation — closing the graph-ML loop the way
    // q249/q250 close the embedding one: common-neighbor counts (the
    // classic link-prediction score) are computed for REAL edges
    // (positives) and q207's deterministic hash-drawn non-edges
    // (negatives) in one two-hop keyed join, and the ranking quality is
    // the exact Mann–Whitney AUC on the integer score grid (q218's
    // arithmetic — ties handled exactly, no float ever). Spatial-graph
    // edges share neighbors, random pairs almost never do, so the score
    // separates (measured AUC 0.66 on the sparse sf0.001 graph, 0.91 on
    // the denser sf0.01 one — the number is an oracle row, not a claim).
    // Scale: the two-hop join fans out by degree (bounded by
    // the grid density), negatives are a multiple of |E|, the AUC is one
    // census + a grid-bounded window.
    QueryDef("q259_linkpred_auc",
      s"""WITH ${SpatialEdges.cte},
         |ed AS MATERIALIZED (SELECT u AS a, b FROM (
         |        SELECT u, v AS b FROM e0 UNION ALL SELECT v, u FROM e0)
         |        t(u, b)),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pos FROM e0),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
         |idx AS (SELECT unnest(range(0, 4 * (SELECT n_pos FROM np))) AS i),
         |cand AS (SELECT (${graft.functions.Hashes.mulHashSql("i", 19)})
         |                  % (SELECT n FROM nc) AS a,
         |                (${graft.functions.Hashes.mulHashSql("i", 23)})
         |                  % (SELECT n FROM nc) AS b
         |         FROM idx),
         |valid AS (SELECT DISTINCT a, b FROM cand WHERE a < b),
         |neg AS (SELECT a, b FROM valid vv WHERE NOT EXISTS
         |        (SELECT 1 FROM e0 WHERE e0.u = vv.a AND e0.v = vv.b)),
         |pairs AS (SELECT u AS a, v AS b, 1 AS pos FROM e0
         |          UNION ALL SELECT a, b, 0 FROM neg),
         |cn AS (SELECT p.a, p.b, p.pos, CAST(count(e2.b) AS BIGINT) AS score
         |       FROM pairs p
         |       LEFT JOIN ed e1 ON e1.a = p.a
         |       LEFT JOIN ed e2 ON e2.a = p.b AND e2.b = e1.b
         |       GROUP BY p.a, p.b, p.pos),
         |c AS (SELECT score, CAST(sum(pos) AS BIGINT) AS np_s,
         |             CAST(count(*) - sum(pos) AS BIGINT) AS nn_s
         |      FROM cn GROUP BY score),
         |w AS (SELECT score, np_s, nn_s,
         |        CAST(coalesce(sum(nn_s) OVER (ORDER BY score
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS cum_nn
         |      FROM c),
         |t AS (SELECT CAST(sum(np_s * (2 * cum_nn + nn_s)) AS BIGINT) AS u2,
         |             CAST(sum(np_s) AS BIGINT) AS np,
         |             CAST(sum(nn_s) AS BIGINT) AS nn
         |      FROM w)
         |SELECT np AS n_pos, nn AS n_neg, u2,
         |       CAST(u2 * 1000000 // (2 * np * nn) AS BIGINT) AS auc_ppm
         |FROM t""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      val e0 = SpatialEdges.frame(s, d)
        .persist() // positives, the anti side, and the adjacency build
      val ed = e0.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e0.select(col("v").as("a"), col("u").as("b")))
        .persist() // probed twice by the two-hop join
      val np = e0.agg(count(lit(1)).as("n_pos"))
      val nc = Tables.customer(s, d).agg(count(lit(1)).as("n"))
      val cand = np.crossJoin(broadcast(nc))
        .select(explode(sequence(lit(0L), col("n_pos") * 4 - 1)).as("i"),
          col("n"))
        .select((Hashes.mulHash(col("i"), 19) % col("n")).as("a"),
          (Hashes.mulHash(col("i"), 23) % col("n")).as("b"))
      val neg = cand.where(col("a") < col("b")).distinct()
        .join(e0, col("a") === col("u") && col("b") === col("v"), "left_anti")
      val pairs = e0.select(col("u").as("a"), col("v").as("b"), lit(1L).as("pos"))
        .unionAll(neg.select(col("a"), col("b"), lit(0L).as("pos")))
      val e1 = ed.withColumnsRenamed(Map("a" -> "a1", "b" -> "w1"))
      val e2 = ed.withColumnsRenamed(Map("a" -> "a2", "b" -> "w2"))
      val cn = pairs
        .join(e1, col("a") === col("a1"), "left")
        .join(e2, col("b") === col("a2") && col("w1") === col("w2"), "left")
        .groupBy("a", "b", "pos")
        .agg(count(col("w2")).as("score"))
      val c = cn.groupBy("score")
        .agg(sum("pos").as("np_s"), (count(lit(1)) - sum("pos")).as("nn_s"))
      // exclusive cumsum over the (unique) score grid — two-pass PrefixSum
      // (round 14, the q218 migration); oracle keeps the plain window text
      graft.operators.PrefixSum.cumsum(c, Seq(col("score")), "nn_s",
          inclusive = false, sumName = "cum_nn")
        .agg(sum(col("np_s") * (lit(2) * col("cum_nn") + col("nn_s"))).as("u2"),
          sum("np_s").as("np"), sum("nn_s").as("nn"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"), col("u2"),
          expr("u2 * 1000000 div (2 * np * nn)").as("auc_ppm"))
    },

    // Graph health report — the one-row datasheet (q206's idea for graphs)
    // a pipeline checks before running expensive graph algorithms: vertex/
    // edge volume, component count, largest-component share (is the graph
    // one blob or dust?), degree extremes and density. Components use the
    // LARGE-STAR/SMALL-STAR algorithm (q104's), not q61's min-label
    // propagation: a spatial near-grid graph has O(√n) diameter, so label
    // propagation needs O(diameter) rounds — at sf0.01 it blows the round
    // cap — while LS/SS contracts in O(log n) rounds regardless of
    // diameter. Exactly the algorithm-selection judgment this report
    // exists to inform. Degrees from one census; every figure is an exact
    // integer or integer unit (share ppm, avg degree ×100). The oracle
    // closes the graph with the recursive-CTE dual as usual.
    QueryDef("q213_graph_report",
      s"""WITH RECURSIVE ${SpatialEdges.cte},
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
         |        FROM (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
         |        GROUP BY id),
         |e AS MATERIALIZED (SELECT u AS ea, v AS eb FROM e0
         |      UNION ALL SELECT v, u FROM e0),
         |reach(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
         |comp AS (SELECT rv, min(rr) AS cmin FROM reach GROUP BY rv),
         |cs AS (SELECT cmin, CAST(count(*) AS BIGINT) AS sz
         |       FROM comp GROUP BY cmin)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
         |       (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
         |       (SELECT CAST(count(*) AS BIGINT) FROM cs) AS n_components,
         |       (SELECT CAST(max(sz) * 1000000 //
         |                (SELECT count(*) FROM deg) AS BIGINT) FROM cs)
         |         AS largest_share_ppm,
         |       (SELECT CAST(max(dg) AS BIGINT) FROM deg) AS max_degree,
         |       (SELECT CAST(sum(dg) * 100 // count(*) AS BIGINT) FROM deg)
         |         AS avg_degree_x100""".stripMargin) { (s, d) =>
      val e0 = SpatialEdges.frame(s, d).persist() // degrees + components + count
      val deg = e0.select(col("u").as("id")).unionAll(e0.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
        .persist() // vertex count + degree stats
      val comp = Components.largeStarSmallStar(e0, "u", "v")
      val cs = comp.groupBy("comp").agg(count(lit(1)).as("sz"))
      val nV = deg.agg(count(lit(1)).as("n_vertices"))
      val nE = e0.agg(count(lit(1)).as("n_edges"))
      val nC = cs.agg(count(lit(1)).as("n_components"), max("sz").as("mx"))
      val dStats = deg.agg(max("dg").as("max_degree"),
        sum("dg").as("sdg"), count(lit(1)).as("nd"))
      nV.crossJoin(broadcast(nE)).crossJoin(broadcast(nC))
        .crossJoin(broadcast(dStats))
        .select(col("n_vertices"), col("n_edges"), col("n_components"),
          expr("mx * 1000000 div n_vertices").as("largest_share_ppm"),
          col("max_degree"),
          expr("sdg * 100 div nd").as("avg_degree_x100"))
    },

    // Single-source BFS shortest-path layers — the one graph primitive the
    // family (PageRank, CC, triangles, k-core, HITS, LPA, modularity) was
    // still missing: DISTANCE. Over q81's bipartite customer↔supplier
    // interaction graph, from the smallest customer id, four frontier
    // rounds; first-touch IS the minimum hop count because each round's
    // frontier is anti-joined against everything already reached (the
    // textbook distributed BFS — per round one equi-join shuffle keyed by
    // edge source + one anti-join, frontier bounded by |V|, no weights so
    // no priority queue to fake). The oracle's recursive CTE carries (id,
    // dist) pairs under UNION dedup — bounded by |V|·hops, not path count —
    // and takes min(dist) per id.
    QueryDef("q302_bfs_layers",
      s"""WITH RECURSIVE ${TradeGraph.pairsSql()},
        |${TradeGraph.edgesSql(materialized = true)},
        |seed AS MATERIALIZED (SELECT min(src) AS id FROM e),
        |bfs(id, dist) AS (
        |  SELECT id, 0 FROM seed
        |  UNION
        |  SELECT e.dst, bfs.dist + 1
        |  FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.dist < 4)
        |SELECT id, CAST(min(dist) AS BIGINT) AS dist
        |FROM bfs GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      val e = TradeGraph.edges(TradeGraph.pairs(s, d))
        .persist() // probed once per round
      TradeGraph.bfs(e, e.agg(min("src").as("id")), hops = 4).orderBy("id")
    },

    // Skyline (Pareto frontier) — the multi-criteria shortlist operator:
    // parts where no other part is both cheaper-or-equal AND
    // smaller-or-equal with at least one strict. The naive formulation is
    // a quadratic NOT EXISTS self-join; in 2-D it reduces to (1) a
    // min-size census per distinct price (one equi-shuffle with map-side
    // combine), (2) a prefix-min window over that CENSUS — orders of
    // magnitude smaller than the data, the only globally-ordered pass —
    // and (3) an equi-join of the points back against their price's
    // census row: survive iff no strictly-cheaper price has min size ≤
    // own (prefix) and no equal-priced point is strictly smaller (census
    // min). No self-join, no global sort of the DATA — the 100 TB shape
    // for pareto shortlists. Duplicate (price, size) points all survive
    // (domination needs one strict coordinate), stated by both engines.
    QueryDef("q304_skyline",
      """WITH p AS (
        |  SELECT p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents,
        |         CAST(p_size AS BIGINT) AS size
        |  FROM part),
        |w AS (
        |  SELECT p_partkey, cents, size,
        |         min(size) OVER (ORDER BY cents
        |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS min_size_cheaper,
        |         min(size) OVER (PARTITION BY cents) AS min_size_equal
        |  FROM p)
        |SELECT p_partkey, cents, size
        |FROM w
        |WHERE (min_size_cheaper IS NULL OR min_size_cheaper > size)
        |  AND min_size_equal >= size
        |ORDER BY cents, size, p_partkey""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"),
        col("p_size").cast("long").as("size"))
      val census = p.groupBy("cents").agg(min("size").as("min_size_equal"))
      // the prefix min runs over the price CENSUS through the two-pass zip
      // (cents is the groupBy key, hence unique — a total order): even a
      // value-domain-bounded census shouldn't funnel through one window
      // task when the associative-extremum zip costs the same shuffle
      val w = PrefixSum.cumExtremum(census, Seq(col("cents")),
        "min_size_equal", isMax = false, inclusive = false,
        outName = "min_size_cheaper")
      p.join(w, "cents")
        .where((col("min_size_cheaper").isNull
            || col("min_size_cheaper") > col("size"))
          && col("min_size_equal") >= col("size"))
        .select("p_partkey", "cents", "size")
        .orderBy("cents", "size", "p_partkey")
    },

    // Grid-density clustering — the DBSCAN shape made distributable (the
    // CLIQUE/grid reduction): instead of per-point ε-neighborhoods
    // (a quadratic radius join), points census into fixed 100×100 cells
    // (one equi-shuffle with map-side combine), DENSE cells (≥ 4 points)
    // become the vertices, 8-neighborhood adjacency between dense cells
    // becomes the edge list (offset-explode equi-join — 9 candidates per
    // cell, never all-pairs), and clusters are the connected components
    // of that CELL graph (large-star/small-star, count-gated). The graph
    // the fixpoint runs on is the DENSE-CELL census — orders of magnitude
    // smaller than the data, the property that makes density clustering
    // survive 100 TB. Same deterministic point cloud as the q178/q184
    // spatial family; sparse-cell points report as the noise row
    // (cluster_id −1), exactly DBSCAN's noise semantics at cell
    // granularity.
    QueryDef("q307_grid_density", {
      import graft.functions.Hashes
      s"""WITH RECURSIVE p AS (
         |  SELECT c_custkey AS id,
         |         (${Hashes.mulHashSql("c_custkey", 11)}) % 1000 AS x,
         |         (${Hashes.mulHashSql("c_custkey", 13)}) % 1000 AS y
         |  FROM customer),
         |cells AS (
         |  SELECT (x // 100) * 1000 + (y // 100) AS cid,
         |         CAST(count(*) AS BIGINT) AS n_pts
         |  FROM p GROUP BY 1),
         |dense AS (SELECT cid, n_pts FROM cells WHERE n_pts >= 4),
         |e AS MATERIALIZED (
         |  SELECT a.cid AS ea, b.cid AS eb
         |  FROM dense a JOIN dense b
         |    ON abs(a.cid // 1000 - b.cid // 1000) <= 1
         |   AND abs(a.cid % 1000 - b.cid % 1000) <= 1),
         |reach(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
         |comp AS (SELECT rv AS cid, min(rr) AS cluster_id
         |         FROM reach GROUP BY rv),
         |clusters AS (
         |  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
         |         CAST(sum(d.n_pts) AS BIGINT) AS n_points
         |  FROM dense d JOIN comp c ON c.cid = d.cid
         |  GROUP BY c.cluster_id),
         |noise AS (
         |  SELECT CAST(-1 AS BIGINT) AS cluster_id,
         |         CAST(count(*) AS BIGINT) AS n_cells,
         |         CAST(coalesce(sum(n_pts), 0) AS BIGINT) AS n_points
         |  FROM cells WHERE n_pts < 4)
         |SELECT cluster_id, n_cells, n_points FROM clusters
         |UNION ALL SELECT * FROM noise
         |ORDER BY cluster_id""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val p = Tables.customer(s, d).select(col("c_custkey").as("id"),
        (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
        (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
      val cells = p
        .groupBy((expr("x div 100") * 1000 + expr("y div 100")).as("cid"))
        .agg(count(lit(1)).as("n_pts"))
        .persist() // dense vertices + noise census share it
      val dense = cells.where(col("n_pts") >= 4)
      val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
      val a = dense.select(col("cid").as("ea"), explode(offsets).as("off"))
        .select(col("ea"),
          ((expr("ea div 1000") + col("off.dx")) * 1000
            + (expr("ea % 1000") + col("off.dy"))).as("nb"))
      val e = a.join(dense.select(col("cid").as("eb")),
        col("nb") === col("eb"))
      val comp = Components.largeStarSmallStar(e, "ea", "eb")
      val clusters = dense.join(comp, col("cid") === col("id"))
        .groupBy(col("comp").as("cluster_id"))
        .agg(count(lit(1)).as("n_cells"), sum("n_pts").as("n_points"))
      val noise = cells.where(col("n_pts") < 4)
        .agg(count(lit(1)).as("n_cells"),
          coalesce(sum("n_pts"), lit(0L)).as("n_points"))
        .select(lit(-1L).as("cluster_id"), col("n_cells"), col("n_points"))
      clusters.unionByName(noise).orderBy("cluster_id")
    },

    // Weighted cheapest paths (Bellman-Ford rounds) — q302 counts hops;
    // routing and attribution need COST. Min-plus relaxation over the
    // customer↔supplier graph weighted by the cheapest line item ever
    // shipped between the pair (exact cents): four synchronous rounds of
    // dist ← min(dist, min over in-edges(dist[src] + w)), each one
    // edge-keyed equi-join + min-aggregate — the min-plus semiring
    // counterpart of the PageRank round, same shuffle shape, integer
    // arithmetic end to end. Both engines replay the SAME four rounds as
    // chained aggregations (no recursion — path enumeration would
    // explode; round-wise min never does: state is one row per vertex).
    QueryDef("q308_cheapest_path", {
      def rnd(k: Int, prev: String) =
        s"""d$k AS (
           |  SELECT id, min(cost) AS cost FROM (
           |    SELECT id, cost FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS id, p.cost + e.w AS cost
           |    FROM $prev p JOIN e ON e.src = p.id)
           |  GROUP BY id)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT o_custkey AS c, l_suppkey AS s,
         |         min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY o_custkey, l_suppkey),
         |e AS (SELECT c AS src, s + 1000000 AS dst, w FROM pairs
         |      UNION ALL SELECT s + 1000000, c, w FROM pairs),
         |seed AS (SELECT min(src) AS id, CAST(0 AS BIGINT) AS cost FROM e),
         |d0 AS (SELECT id, cost FROM seed),
         |${rnd(1, "d0")}, ${rnd(2, "d1")}, ${rnd(3, "d2")}, ${rnd(4, "d3")}
         |SELECT id, cost FROM d4 ORDER BY id""".stripMargin
    }) { (s, d) =>
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .agg(min(round(col("l_extendedprice") * 100, 0).cast("long")).as("w"))
      val e = pairs.select(col("c").as("src"), (col("s") + 1000000L).as("dst"),
          col("w"))
        .unionAll(pairs.select((col("s") + 1000000L).as("src"),
          col("c").as("dst"), col("w")))
        .persist() // probed once per round
      var dist = e.agg(min("src").as("id")).withColumn("cost", lit(0L))
        .localCheckpoint()
      for (_ <- 1 to 4) {
        dist = dist
          .unionByName(dist.join(e, col("id") === col("src"))
            .select(col("dst").as("id"), (col("cost") + col("w")).as("cost")))
          .groupBy("id").agg(min("cost").as("cost"))
          .localCheckpoint() // round plans must not nest
      }
      dist.orderBy("id")
    },

    // Spectral bisection — graph partitioning by the sign of the Fiedler
    // vector: 8 power-iteration rounds on cI − L (c = maxdeg + 1, L the
    // combinatorial Laplacian), each round ONE edge-keyed neighbor-sum
    // exchange plus broadcast 1-row statistics — the PageRank shuffle
    // shape carrying an eigensolve. The constant eigenvector (L's kernel)
    // deflates by EXACT mean-centering every round: the iterate lives in
    // 1e-9 integer units, so neighbor sums, means (floor div) and the
    // norm's sum of squares (128-bit) are order-insensitive exact
    // integers; the only doubles are the per-element normalize, identical
    // on identical inputs. Output is the cut census: side sizes, volumes,
    // cut edges, conductance — the balanced-partition quality report.
    // (On a disconnected graph the Fiedler sign splits components — still
    // the minimum-conductance answer.) Oracle replays seed, all 8 rounds,
    // and the census.
    QueryDef("q312_spectral_cut", {
      import graft.functions.Hashes
      // center + normalize `src` (id, xq) into `out`, all exact but the
      // final per-element divide
      // every generated CTE is MATERIALIZED: the 8-round chain references
      // each predecessor multiple times and DuckDB inlines plain CTEs —
      // un-materialized, the query tree doubles per round (playbook: the
      // SpatialEdges lesson, compounded 8×)
      def cn(src: String, out: String) =
        s"""${out}_m AS MATERIALIZED (
           |  SELECT sum(xq) // count(*) AS mean FROM $src),
           |${out}_c AS MATERIALIZED (
           |  SELECT id, xq - ${out}_m.mean AS xc FROM $src CROSS JOIN ${out}_m),
           |${out}_n AS MATERIALIZED (
           |  SELECT sqrt(CAST(sum(CAST(xc AS HUGEINT) * xc) AS DOUBLE)) AS nrm
           |  FROM ${out}_c),
           |$out AS MATERIALIZED (
           |  SELECT id, CAST(round(xc / ${out}_n.nrm * 1e9, 0) AS BIGINT) AS xq
           |  FROM ${out}_c CROSS JOIN ${out}_n)""".stripMargin
      def rnd(k: Int, prev: String) =
        s"""nb$k AS MATERIALIZED (
           |  SELECT sym.a AS id, sum(x.xq) AS s
           |  FROM sym JOIN $prev x ON x.id = sym.b GROUP BY sym.a),
           |y$k AS MATERIALIZED (
           |  SELECT d.a AS id,
           |         (cc.c - d.dg) * x.xq + coalesce(nb$k.s, 0) AS xq
           |  FROM deg d CROSS JOIN cc
           |       JOIN $prev x ON x.id = d.a
           |       LEFT JOIN nb$k ON nb$k.id = d.a),
           |${cn(s"y$k", s"x$k")}""".stripMargin
      val rounds = (1 to 8)
        .map(k => rnd(k, if (k == 1) "x0" else s"x${k - 1}")).mkString(",\n")
      s"""WITH ${SpatialEdges.cte},
         |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
         |        UNION ALL SELECT v, u FROM e0),
         |deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY a),
         |cc AS MATERIALIZED (SELECT max(dg) + 1 AS c FROM deg),
         |seed AS (
         |  SELECT a AS id,
         |         ((${Hashes.mulHashSql("a", 17)}) % 2001 - 1000) * 1000000 AS xq
         |  FROM deg),
         |${cn("seed", "x0")},
         |$rounds,
         |side AS MATERIALIZED (
         |  SELECT x.id, CASE WHEN x.xq >= 0 THEN 1 ELSE -1 END AS sd, d.dg
         |  FROM x8 x JOIN deg d ON d.a = x.id),
         |cut AS (
         |  SELECT CAST(count(*) AS BIGINT) AS cut_edges
         |  FROM e0 JOIN side sa ON sa.id = e0.u JOIN side sb ON sb.id = e0.v
         |  WHERE sa.sd <> sb.sd),
         |census AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN sd = 1 THEN 1 END), 0) AS BIGINT)
         |           AS n_pos,
         |         CAST(coalesce(sum(CASE WHEN sd = -1 THEN 1 END), 0) AS BIGINT)
         |           AS n_neg,
         |         CAST(coalesce(sum(CASE WHEN sd = 1 THEN dg END), 0) AS BIGINT)
         |           AS vol_pos,
         |         CAST(coalesce(sum(CASE WHEN sd = -1 THEN dg END), 0) AS BIGINT)
         |           AS vol_neg
         |  FROM side)
         |SELECT n_pos, n_neg, vol_pos, vol_neg, cut.cut_edges,
         |       CASE WHEN least(vol_pos, vol_neg) = 0 THEN CAST(-1 AS BIGINT)
         |            ELSE CAST(cut.cut_edges * 1000000
         |                      // least(vol_pos, vol_neg) AS BIGINT)
         |       END AS conductance_ppm
         |FROM census CROSS JOIN cut""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val e0 = SpatialEdges.frame(s, d).persist() // sym + cut census
      val sym = e0.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e0.select(col("v").as("a"), col("u").as("b")))
        .persist() // probed once per round
      val deg = sym.groupBy("a").agg(count(lit(1)).as("dg"))
        .persist() // every round + the census
      val cc = broadcast(deg.agg((max("dg") + 1).as("c")))
      def centerNormalize(cur: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val m = broadcast(cur.agg(expr("sum(xq) div count(*)").as("mean")))
        val cen = cur.crossJoin(m).select(col("id"),
          (col("xq") - col("mean")).as("xc"))
        val n = broadcast(cen.agg(
          sqrt(sum(col("xc").cast(dec) * col("xc")).cast("double")).as("nrm")))
        cen.crossJoin(n).select(col("id"),
          round(col("xc") / col("nrm") * 1e9, 0).cast("long").as("xq"))
      }
      var x = centerNormalize(
        deg.select(col("a").as("id"),
          ((Hashes.mulHash(col("a"), 17) % 2001 - 1000) * 1000000L).as("xq")))
        .localCheckpoint()
      for (_ <- 1 to 8) {
        val nb = sym.join(x, col("id") === col("b"))
          .groupBy(col("a").as("nid")).agg(sum("xq").as("s"))
        val y = deg.crossJoin(cc)
          .join(x, col("id") === col("a"))
          .join(nb, col("a") === col("nid"), "left")
          .select(col("a").as("id"),
            ((col("c") - col("dg")) * col("xq")
              + coalesce(col("s"), lit(0L))).as("xq"))
        x = centerNormalize(y).localCheckpoint() // round plans must not nest
      }
      val side = x.join(deg, col("id") === col("a"))
        .select(col("id"),
          when(col("xq") >= 0, lit(1)).otherwise(lit(-1)).as("sd"),
          col("dg"))
        .persist() // census + cut join
      val cut = broadcast(e0
        .join(side.select(col("id").as("u"), col("sd").as("sdu")), "u")
        .join(side.select(col("id").as("v"), col("sd").as("sdv")), "v")
        .where(col("sdu") =!= col("sdv"))
        .agg(count(lit(1)).as("cut_edges")))
      side.agg(
          coalesce(sum(when(col("sd") === 1, 1L)), lit(0L)).as("n_pos"),
          coalesce(sum(when(col("sd") === -1, 1L)), lit(0L)).as("n_neg"),
          coalesce(sum(when(col("sd") === 1, col("dg"))), lit(0L))
            .as("vol_pos"),
          coalesce(sum(when(col("sd") === -1, col("dg"))), lit(0L))
            .as("vol_neg"))
        .crossJoin(cut)
        .select(col("n_pos"), col("n_neg"), col("vol_pos"), col("vol_neg"),
          col("cut_edges"),
          when(least(col("vol_pos"), col("vol_neg")) === 0, lit(-1L))
            .otherwise(expr(
              "cut_edges * 1000000 div least(vol_pos, vol_neg)"))
            .as("conductance_ppm"))
    },

    // Weisfeiler–Lehman color refinement — the 1-WL vertex-canonicalization
    // primitive under graph kernels and GNN expressiveness results: start
    // from degree colors, then repeatedly recolor each vertex by (own
    // color, SORTED multiset of neighbor colors), compressing each distinct
    // signature to a dense id. Per round: one edge-keyed neighbor-collect
    // (numeric-sorted inside the aggregate — order-insensitive), one
    // signature census, one dictionary window over the DISTINCT-signature
    // relation (bounded by the color count — the census posture), one
    // encode join. Output is the refinement trajectory — distinct colors
    // after rounds 0/1/2 — the stabilization curve a graph-dedup or
    // symmetry-detection pass reads. Oracle replays degrees, both rounds,
    // and the censuses with the identical signature strings.
    QueryDef("q313_wl_colors", {
      def rnd(k: Int, prev: String) =
        s"""sig$k AS MATERIALIZED (
           |  SELECT c.id,
           |         CAST(c.col AS VARCHAR) || '|' ||
           |           coalesce(string_agg(CAST(n.col AS VARCHAR), ','
           |             ORDER BY n.col, n.id), '') AS sig
           |  FROM $prev c
           |  LEFT JOIN sym ON sym.a = c.id
           |  LEFT JOIN $prev n ON n.id = sym.b
           |  GROUP BY c.id, c.col),
           |dict$k AS MATERIALIZED (
           |  SELECT sig, row_number() OVER (ORDER BY sig) AS col
           |  FROM (SELECT DISTINCT sig FROM sig$k)),
           |c$k AS MATERIALIZED (
           |  SELECT s.id, d.col FROM sig$k s JOIN dict$k d ON d.sig = s.sig)"""
          .stripMargin
      s"""WITH ${SpatialEdges.cte},
         |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
         |        UNION ALL SELECT v, u FROM e0),
         |c0 AS MATERIALIZED (
         |  SELECT a AS id, CAST(count(*) AS BIGINT) AS col
         |  FROM sym GROUP BY a),
         |${rnd(1, "c0")},
         |${rnd(2, "c1")}
         |SELECT r, n_colors FROM (
         |  SELECT CAST(0 AS BIGINT) AS r,
         |         CAST(count(DISTINCT col) AS BIGINT) AS n_colors FROM c0
         |  UNION ALL
         |  SELECT 1, count(DISTINCT col) FROM c1
         |  UNION ALL
         |  SELECT 2, count(DISTINCT col) FROM c2)
         |ORDER BY r""".stripMargin
    }) { (s, d) =>
      val e0 = SpatialEdges.frame(s, d)
      val sym = e0.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e0.select(col("v").as("a"), col("u").as("b")))
        .persist() // probed once per round
      var c = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("col"))
        .localCheckpoint()
      val counts = scala.collection.mutable.ArrayBuffer(
        c.select(countDistinct("col")).head().getLong(0))
      for (k <- 1 to 2) {
        val sig = c
          .join(sym, col("id") === col("a"), "left")
          .join(c.select(col("id").as("nid"), col("col").as("ncol")),
            col("b") === col("nid"), "left")
          .groupBy(col("id"), col("col"))
          .agg(concat(col("col").cast("string"), lit("|"),
            coalesce(array_join(transform(array_sort(collect_list(
              when(col("ncol").isNotNull,
                struct(col("ncol"), col("nid"))))),
              x => x.getField("ncol").cast("string")), ","), lit("")))
            .as("sig"))
        val dw = org.apache.spark.sql.expressions.Window.orderBy("sig")
        val dict = sig.select("sig").distinct()
          .withColumn("ncol", row_number().over(dw).cast("long"))
        c = sig.join(dict, "sig")
          .select(col("id"), col("ncol").as("col"))
          .localCheckpoint() // round plans must not nest
        counts += c.select(countDistinct("col")).head().getLong(0)
      }
      val rows = counts.zipWithIndex
        .map { case (n, r) => (r.toLong, n) }.toSeq
      s.createDataFrame(rows).toDF("r", "n_colors").orderBy("r")
    },

    // Greedy maximal matching — the locally-dominant-edge algorithm
    // (Hoepman 2004's distributed folklore): per round, every vertex
    // nominates its smallest incident edge id, an edge joins the matching
    // iff BOTH endpoints nominated it (a purely local test — one
    // vertex-keyed min-aggregate + one edge-keyed equality join per
    // round), matched vertices and their edges drop out, repeat. Three
    // pinned rounds over the spatial graph; dominant-edge matching is
    // maximAL (no augmenting-path search), the load-balancing /
    // entity-pairing primitive. Every round's state is the surviving edge
    // list — monotonically shrinking, never the quadratic candidate set.
    // Oracle replays the identical three rounds (MATERIALIZED per round).
    QueryDef("q315_maximal_matching", {
      def rnd(k: Int, prev: String) =
        s"""cand$k AS MATERIALIZED (
           |  SELECT vx, min(eid) AS ce FROM (
           |    SELECT u AS vx, eid FROM $prev
           |    UNION ALL SELECT v, eid FROM $prev)
           |  GROUP BY vx),
           |m$k AS MATERIALIZED (
           |  SELECT e.u, e.v, e.eid FROM $prev e
           |  JOIN cand$k cu ON cu.vx = e.u AND cu.ce = e.eid
           |  JOIN cand$k cv ON cv.vx = e.v AND cv.ce = e.eid),
           |mv$k AS MATERIALIZED (
           |  SELECT u AS vx FROM m$k UNION ALL SELECT v FROM m$k),
           |e$k AS MATERIALIZED (
           |  SELECT e.u, e.v, e.eid FROM $prev e
           |  WHERE NOT EXISTS (SELECT 1 FROM mv$k WHERE mv$k.vx = e.u)
           |    AND NOT EXISTS (SELECT 1 FROM mv$k WHERE mv$k.vx = e.v))"""
          .stripMargin
      s"""WITH ${SpatialEdges.cte},
         |e00 AS MATERIALIZED (
         |  SELECT u, v, u * 1000000 + v AS eid FROM e0),
         |${rnd(1, "e00")},
         |${rnd(2, "e1")},
         |${rnd(3, "e2")}
         |SELECT u, v FROM (
         |  SELECT u, v FROM m1 UNION ALL
         |  SELECT u, v FROM m2 UNION ALL
         |  SELECT u, v FROM m3)
         |ORDER BY u""".stripMargin
    }) { (s, d) =>
      var e = SpatialEdges.frame(s, d)
        .select(col("u"), col("v"), (col("u") * 1000000L + col("v")).as("eid"))
        .localCheckpoint()
      var matched = e.where(lit(false)).select("u", "v")
      for (_ <- 1 to 3) {
        val cand = e.select(col("u").as("vx"), col("eid"))
          .unionAll(e.select(col("v").as("vx"), col("eid")))
          .groupBy("vx").agg(min("eid").as("ce"))
        val m = e
          .join(cand.select(col("vx").as("cu"), col("ce").as("ceu")),
            col("u") === col("cu") && col("eid") === col("ceu"))
          .join(cand.select(col("vx").as("cv"), col("ce").as("cev")),
            col("v") === col("cv") && col("eid") === col("cev"))
          .select("u", "v", "eid")
          .localCheckpoint() // round plans must not nest
        val mv = m.select(col("u").as("vx"))
          .unionAll(m.select(col("v").as("vx")))
        matched = matched.unionByName(m.select("u", "v"))
        e = e
          .join(mv.select(col("vx").as("du")), col("u") === col("du"),
            "left_anti")
          .join(mv.select(col("vx").as("dv")), col("v") === col("dv"),
            "left_anti")
          .localCheckpoint()
      }
      matched.orderBy("u")
    },

    // Per-vertex local clustering coefficient — q184 counts the corpus's
    // triangles as ONE number; community detection and spam/bot features
    // need them PER VERTEX: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), how
    // close v's neighborhood is to a clique. Same degree-oriented wedge
    // join as q184 (each triangle enumerated exactly once, wedge count
    // bounded by Σ min-degree — the arboricity bound that makes triangle
    // counting survive 100 TB), then every found triangle credits its
    // THREE corners via a 3-way union (a constant-factor explode, no new
    // join class). Output: the top-20 vertices by triangle count over the
    // spatial graph, with exact-ppm coefficients.
    QueryDef("q323_clustering_coef",
      s"""WITH ${SpatialEdges.cte},
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
         |        FROM (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0)
         |        GROUP BY id),
         |o AS (SELECT CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
         |                  THEN u ELSE v END AS src,
         |             CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
         |                  THEN v ELSE u END AS dst,
         |             CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
         |                  THEN dv.dg ELSE du.dg END AS ddst
         |      FROM e0 JOIN deg du ON e0.u = du.id
         |               JOIN deg dv ON e0.v = dv.id),
         |w AS (SELECT x.src AS apex, x.dst AS a, y.dst AS b
         |      FROM o x JOIN o y ON x.src = y.src
         |       AND ((x.ddst < y.ddst) OR (x.ddst = y.ddst AND x.dst < y.dst))),
         |tri AS (SELECT w.apex, w.a, w.b
         |        FROM w JOIN o ON w.a = o.src AND w.b = o.dst),
         |tv AS (SELECT apex AS id FROM tri
         |       UNION ALL SELECT a FROM tri
         |       UNION ALL SELECT b FROM tri),
         |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM tv GROUP BY id)
         |SELECT tc.id, tc.n_triangles, deg.dg AS degree,
         |       2 * tc.n_triangles * 1000000 // (deg.dg * (deg.dg - 1))
         |         AS cc_ppm
         |FROM tc JOIN deg ON tc.id = deg.id
         |ORDER BY tc.n_triangles DESC, tc.id LIMIT 20""".stripMargin) { (s, d) =>
      val e0 = SpatialEdges.frame(s, d)
        .persist() // degree census + orientation share it
      val deg = e0.select(col("u").as("id"))
        .unionAll(e0.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
        .persist() // orientation + final cc join
      val du = deg.withColumnsRenamed(Map("id" -> "u", "dg" -> "du"))
      val dv = deg.withColumnsRenamed(Map("id" -> "v", "dg" -> "dv"))
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val o = e0.join(du, Seq("u")).join(dv, Seq("v"))
        .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"),
          when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
        .persist() // wedge self-join + closing-edge probe
      val w = o.as("x").join(o.as("y"),
          col("x.src") === col("y.src")
            && (col("x.ddst") < col("y.ddst")
              || (col("x.ddst") === col("y.ddst")
                && col("x.dst") < col("y.dst"))))
        .select(col("x.src").as("apex"), col("x.dst").as("a"),
          col("y.dst").as("b"))
      val tri = w.join(o, col("a") === col("src") && col("b") === col("dst"))
        .select("apex", "a", "b")
      val tv = tri.select(col("apex").as("id"))
        .unionAll(tri.select(col("a").as("id")))
        .unionAll(tri.select(col("b").as("id")))
      val tc = tv.groupBy("id").agg(count(lit(1)).as("n_triangles"))
      tc.join(deg, "id")
        .select(col("id"), col("n_triangles"), col("dg").as("degree"),
          expr("2 * n_triangles * 1000000 div (dg * (dg - 1))").as("cc_ppm"))
        .orderBy(col("n_triangles").desc, col("id")).limit(20)
    },

    // Jaro–Winkler fuzzy matching — the name-similarity measure record
    // linkage actually uses (Winkler 1990, the Census Bureau matcher),
    // next to q73's levenshtein and q228's phonetic keys. Spark has no
    // Jaro family, so this runs through the custom codegen expression
    // functions/StringSimExprs (SURVEY preference order (b) — a per-pair
    // double loop no HOF tree expresses without leaving whole-stage
    // codegen). The oracle is DuckDB's NATIVE jaro_winkler_similarity —
    // two fully independent implementations of the published algorithm
    // agreeing to 1e-6 across every candidate pair is the strongest
    // oracle class in the suite. Candidates are brand-blocked part-name
    // pairs (the q180 blocking discipline), never all-pairs.
    QueryDef("q329_jaro_winkler",
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey < 400),
        |pairs AS (
        |  SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |         CAST(round(jaro_winkler_similarity(a.p_name, b.p_name)
        |           * 1000000, 0) AS BIGINT) AS jw_e6
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey)
        |SELECT pk_a, pk_b, jw_e6 FROM pairs
        |ORDER BY jw_e6 DESC, pk_a, pk_b LIMIT 20""".stripMargin) { (s, d) =>
      import graft.functions.StringSimExprs
      val p = Tables.part(s, d).where(col("p_partkey") < 400)
        .select(col("p_partkey"), col("p_brand"), col("p_name"))
      p.as("a").join(p.as("b"),
          col("a.p_brand") === col("b.p_brand")
            && col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("pk_a"), col("b.p_partkey").as("pk_b"),
          round(StringSimExprs.jaroWinkler(col("a.p_name"), col("b.p_name"))
            * 1000000, 0).cast("long").as("jw_e6"))
        .orderBy(col("jw_e6").desc, col("pk_a"), col("pk_b")).limit(20)
    },

    // Entity resolution — the record-linkage pipeline (block → score →
    // resolve) that deduplicates entity catalogs at scale. The ENTITY is
    // a descriptor string (name + brand + type + size — 98 % unique in
    // this catalog; the bare 2-word p_name has only 64 distinct values,
    // a degenerate linkage universe); every 4th part spawns a PERTURBED
    // variant (last character dropped — the typo surrogate; JW is
    // prefix-weighted so the true pair stays findable), blocking on
    // (name, brand) keeps candidates to same-block pairs (never
    // variants × catalog — the first-token-only key put 12.5 M pairs
    // through JW; this key holds it to ~60 k), the codegen Jaro–Winkler
    // scores each candidate, and each variant resolves to its argmax
    // above a 0.85 threshold. The planted ground truth makes resolution
    // ACCURACY a checked output (n_correct/n_variants — duplicate
    // descriptors price the honest ceiling), not a claim; the oracle
    // rescoring uses DuckDB's independent native JW — the q329
    // two-implementations contract extended to the whole linkage
    // pipeline.
    QueryDef("q409_entity_resolution",
      """WITH p AS (
        |  SELECT p_partkey,
        |         p_name || ' ' || p_brand || ' ' || p_type
        |           || ' size ' || p_size AS ent,
        |         p_name || '|' || p_brand AS blk
        |  FROM part),
        |vr AS (
        |  SELECT p_partkey AS vkey,
        |         substr(ent, 1, length(ent) - 1) AS vname, blk
        |  FROM p WHERE p_partkey % 4 = 0),
        |cand AS (
        |  SELECT vr.vkey, p.p_partkey,
        |         CAST(round(jaro_winkler_similarity(vr.vname, p.ent)
        |           * 1000000, 0) AS BIGINT) AS jw_e6
        |  FROM vr JOIN p USING (blk)),
        |res AS (SELECT *, row_number() OVER (PARTITION BY vkey
        |          ORDER BY jw_e6 DESC, p_partkey) AS rk
        |        FROM cand),
        |r1 AS (SELECT vkey, p_partkey AS matched_key, jw_e6,
        |              CAST(CASE WHEN p_partkey = vkey THEN 1 ELSE 0 END
        |                   AS BIGINT) AS is_correct,
        |              CAST(CASE WHEN jw_e6 >= 850000 THEN 1 ELSE 0 END
        |                   AS BIGINT) AS resolved
        |       FROM res WHERE rk = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_variants,
        |               CAST(sum(is_correct) AS BIGINT) AS n_correct
        |        FROM r1)
        |SELECT r1.vkey, r1.matched_key, r1.jw_e6, r1.is_correct,
        |       r1.resolved, tot.n_variants, tot.n_correct
        |FROM r1, tot WHERE r1.vkey < 400 ORDER BY r1.vkey""".stripMargin) { (s, d) =>
      import graft.functions.StringSimExprs
      import org.apache.spark.sql.expressions.Window
      val p = Tables.part(s, d).select(col("p_partkey"),
        concat(col("p_name"), lit(" "), col("p_brand"), lit(" "),
          col("p_type"), lit(" size "), col("p_size").cast("string"))
          .as("ent"),
        concat(col("p_name"), lit("|"), col("p_brand")).as("blk"))
      val vr = p.where(col("p_partkey") % 4 === 0)
        .select(col("p_partkey").as("vkey"),
          expr("substring(ent, 1, length(ent) - 1)").as("vname"),
          col("blk"))
      val cand = vr.join(p, "blk")
        .select(col("vkey"), col("p_partkey"),
          round(StringSimExprs.jaroWinkler(col("vname"), col("ent"))
            * 1000000, 0).cast("long").as("jw_e6"))
      val w = Window.partitionBy("vkey")
        .orderBy(col("jw_e6").desc, col("p_partkey"))
      val r1 = cand.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("vkey"), col("p_partkey").as("matched_key"),
          col("jw_e6"),
          (col("p_partkey") === col("vkey")).cast("long").as("is_correct"),
          (col("jw_e6") >= 850000).cast("long").as("resolved"))
      val tot = r1.agg(count(lit(1)).as("n_variants"),
        sum("is_correct").as("n_correct"))
      r1.where(col("vkey") < 400)
        .crossJoin(broadcast(tot))
        .orderBy("vkey")
    },

    // Item-based collaborative filtering (Sarwar et al., WWW 2001) — the
    // classic top-N recommender: item–item similarity from basket
    // co-occurrence, then each customer's candidate scores sum the
    // similarities to items they already hold. Similarity is SQUARED
    // cosine in exact integers — c_ab²·10¹² div (c_a·c_b) — which is
    // monotone in cosine for positive counts, so rankings are identical
    // and no sqrt enters either engine. Candidate pairs come from the
    // within-basket self-join (pairs per basket ≤ basket², never
    // item × item) and recommendations exclude already-held items via
    // anti-join. Top-3 per customer for the bounded eval slice. Scale:
    // basket self-join is linear in baskets × basket²; the item-pair
    // census is the only thing that shuffles.
    QueryDef("q411_item_cf",
      """WITH b AS (
        |  SELECT DISTINCT o_custkey AS cust, o_orderkey AS ok,
        |         l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ic AS (SELECT item, CAST(count(DISTINCT ok) AS BIGINT) AS c
        |       FROM b GROUP BY item),
        |pairs AS (
        |  SELECT a.item AS ia, bb.item AS ib,
        |         CAST(count(*) AS BIGINT) AS cab
        |  FROM b a JOIN b bb ON a.ok = bb.ok AND a.item <> bb.item
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT pairs.ia, pairs.ib,
        |         cab * cab * 1000000000000 // (ca.c * cb.c) AS sim2_e12
        |  FROM pairs JOIN ic ca ON ca.item = pairs.ia
        |  JOIN ic cb ON cb.item = pairs.ib),
        |held AS (SELECT DISTINCT cust, item FROM b),
        |sc AS (
        |  SELECT h.cust, s.ib AS cand,
        |         CAST(sum(s.sim2_e12) AS BIGINT) AS score
        |  FROM held h JOIN sim s ON s.ia = h.item
        |  WHERE h.cust < 50
        |    AND NOT EXISTS (SELECT 1 FROM held h2
        |                    WHERE h2.cust = h.cust AND h2.item = s.ib)
        |  GROUP BY 1, 2),
        |top AS (SELECT *, row_number() OVER (PARTITION BY cust
        |          ORDER BY score DESC, cand) AS rk
        |        FROM sc)
        |SELECT cust AS customer, cand AS item, score AS score_e12,
        |       CAST(rk AS BIGINT) AS rank
        |FROM top WHERE rk <= 3 ORDER BY customer, rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
          col("l_partkey").as("item"))
        .distinct()
        .persist() // basket self-join + item census + held sets
      val ic = b.groupBy("item").agg(countDistinct("ok").as("c"))
      val pairs = b.as("a")
        .join(b.as("bb"),
          col("a.ok") === col("bb.ok") && col("a.item") =!= col("bb.item"))
        .groupBy(col("a.item").as("ia"), col("bb.item").as("ib"))
        .agg(count(lit(1)).as("cab"))
      val sim = pairs
        .join(ic.select(col("item").as("ia"), col("c").as("ca")), "ia")
        .join(ic.select(col("item").as("ib"), col("c").as("cb")), "ib")
        .select(col("ia"), col("ib"),
          expr("cab * cab * 1000000000000L div (ca * cb)").as("sim2_e12"))
      val held = b.select("cust", "item").distinct()
      val sc = held.where(col("cust") < 50)
        .join(sim, col("item") === col("ia"))
        .join(held.select(col("cust").as("hc"), col("item").as("hi")),
          col("hc") === col("cust") && col("hi") === col("ib"), "left_anti")
        .groupBy(col("cust"), col("ib").as("cand"))
        .agg(sum("sim2_e12").as("score"))
      val w = Window.partitionBy("cust")
        .orderBy(col("score").desc, col("cand"))
      sc.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("cust").as("customer"), col("cand").as("item"),
          col("score").as("score_e12"), col("rk").as("rank"))
        .orderBy("customer", "rank")
    },

    // Personalized PageRank — q81's global rank with a RESTART
    // distribution (Jeh & Widom 2003; the "related to THIS node" graph
    // feature behind recommendation and entity-disambiguation systems):
    // p ← 85%·Pᵀp + 15%·e_seed, three unrolled rounds from each of five
    // seed nations over the revenue-weighted trade digraph. Integer
    // contract: transition ratios pre-scaled to e9 (rev·10⁹ div out),
    // mass in e9 units, per-edge contribution divided BEFORE the sum so
    // every intermediate stays in int64; dangling mass is dropped (the
    // push-style PPR convention, stated). The per-seed vectors are k²
    // census math — five seeds ride one 625-row transition relation.
    QueryDef("q414_personalized_pagerank", {
      // the restart term applies UNCONDITIONALLY (p' = 85%·spread +
      // 15%·e_seed) — conditioning it on the seed receiving spread mass
      // silently drops the whole restart for seeds with no in-edges
      // (nation 0 here; Round13Spec caught it — both mirrored engines
      // shared the wart, so the hash oracle could not)
      def spread(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT seed, node, CAST(sum(p) AS BIGINT) AS p FROM (
           |    SELECT p.seed, t.dst AS node,
           |           85 * CAST(sum(p.p * t.t_e9 // 1000000000) AS BIGINT)
           |             // 100 AS p
           |    FROM $prev p JOIN t ON t.src = p.node
           |    GROUP BY p.seed, t.dst
           |    UNION ALL
           |    SELECT seed, seed, 150000000 FROM sd) u
           |  GROUP BY seed, node)""".stripMargin
      s"""WITH f AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         |         CAST(sum(round(l.l_extendedprice * 100, 0)) AS BIGINT)
         |           AS rev
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |ow AS (SELECT src, CAST(sum(rev) AS BIGINT) AS outw FROM f
         |       GROUP BY src),
         |t AS (SELECT f.src, f.dst, rev * 1000000000 // outw AS t_e9
         |      FROM f JOIN ow USING (src)),
         |sd AS (SELECT n_nationkey AS seed FROM nation
         |       WHERE n_nationkey < 5),
         |p0 AS (SELECT seed, seed AS node, CAST(1000000000 AS BIGINT) AS p
         |       FROM sd),
         |${spread("p0", "p1")},
         |${spread("p1", "p2")},
         |${spread("p2", "p3")},
         |r AS (SELECT seed, node, p,
         |             row_number() OVER (PARTITION BY seed
         |               ORDER BY p DESC, node) AS rk
         |      FROM p3)
         |SELECT seed, node, p AS ppr_e9, CAST(rk AS BIGINT) AS rank
         |FROM r WHERE rk <= 10 ORDER BY seed, rank""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      val f = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("rev"))
      val ow = f.groupBy("src").agg(sum("rev").as("outw"))
      val t = f.join(ow, "src")
        .select(col("src"), col("dst"),
          expr("rev * 1000000000L div outw").as("t_e9"))
        .persist() // probed once per round per seed batch
      val sd = Tables.nation(s, d).where(col("n_nationkey") < 5)
        .select(col("n_nationkey").as("seed"))
      val p0 = sd.select(col("seed"), col("seed").as("node"),
        lit(1000000000L).as("p"))
      def spread(p: DataFrame): DataFrame =
        p.join(t, col("node") === col("src"))
          .groupBy(col("seed"), col("dst"))
          .agg(sum(expr("p * t_e9 div 1000000000L")).as("m"))
          .select(col("seed"), col("dst").as("node"),
            expr("85 * m div 100").as("p"))
          .unionByName(sd.select(col("seed"), col("seed").as("node"),
            lit(150000000L).as("p")))
          .groupBy("seed", "node").agg(sum("p").as("p"))
      val p3 = spread(spread(spread(p0)))
      val w = Window.partitionBy("seed").orderBy(col("p").desc, col("node"))
      p3.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 10)
        .select(col("seed"), col("node"), col("p").as("ppr_e9"),
          col("rk").as("rank"))
        .orderBy("seed", "rank")
    },

    // k-truss (Cohen 2008) — the triangle-reinforced core, one rung above
    // q187's k-core (degree can be faked by star hubs; truss membership
    // needs every edge to sit in ≥ k−2 triangles — actual cohesion): over
    // the item co-purchase graph, three PINNED peel rounds each recompute
    // per-edge triangle support via the oriented wedge join (the q184
    // discipline — a<b<c, never undirected blowup) and drop edges below
    // threshold. The threshold is DATA-DRIVEN — the lower quartile of the
    // initial support census (a 1-row pick; co-purchase density inverts
    // between scales, so any fixed k peels everything at one scale and
    // nothing at the other; the median cascaded the sparse-scale truss to
    // empty in 3 rounds) — and the per-round edge census is part of the checked
    // output: the convergence PATH, not just the fixpoint. Scale: support
    // is an edge-keyed equi-join per round; peeling only shrinks it.
    QueryDef("q423_ktruss", {
      // MATERIALIZED throughout: each round references its input THREE
      // times (wedge join + closure + peel) — default CTE inlining would
      // re-execute the upstream chain 3^rounds times (the checker hung
      // >10 min at sf0.01 before this)
      def roundCtes(inE: String, p: String): String =
        s"""${p}tri AS MATERIALIZED (
           |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM $inE e1 JOIN $inE e2 ON e2.a = e1.b
           |  JOIN $inE e3 ON e3.a = e1.a AND e3.b = e2.b),
           |${p}sup AS MATERIALIZED (
           |  SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
           |    SELECT x AS a, y AS b FROM ${p}tri
           |    UNION ALL SELECT y, z FROM ${p}tri
           |    UNION ALL SELECT x, z FROM ${p}tri) u
           |  GROUP BY a, b),
           |${p}out AS MATERIALIZED (
           |  SELECT e.a, e.b, coalesce(s.sup, 0) AS sup
           |  FROM $inE e LEFT JOIN ${p}sup s ON s.a = e.a AND s.b = e.b
           |  WHERE coalesce(s.sup, 0) >= (SELECT thr FROM th))""".stripMargin
      s"""WITH b AS (
         |  SELECT DISTINCT o_orderkey AS ok, l_partkey AS item
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e0 AS MATERIALIZED (
         |  SELECT x.item AS a, y.item AS b
         |  FROM b x JOIN b y ON x.ok = y.ok AND x.item < y.item
         |  GROUP BY x.item, y.item),
         |tri0 AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e0 e1 JOIN e0 e2 ON e2.a = e1.b
         |  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sup0 AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT x AS a, y AS b FROM tri0
         |    UNION ALL SELECT y, z FROM tri0
         |    UNION ALL SELECT x, z FROM tri0) u
         |  GROUP BY a, b),
         |th AS (SELECT sup AS thr FROM (
         |         SELECT sup, row_number() OVER (ORDER BY sup, a, b) AS rn,
         |                count(*) OVER () AS n
         |         FROM sup0) z
         |       WHERE rn = (n + 3) // 4),
         |r1out AS MATERIALIZED (
         |  SELECT e.a, e.b, coalesce(s.sup, 0) AS sup
         |  FROM e0 e LEFT JOIN sup0 s ON s.a = e.a AND s.b = e.b
         |  WHERE coalesce(s.sup, 0) >= (SELECT thr FROM th)),
         |${roundCtes("r1out", "r2")},
         |${roundCtes("r2out", "r3")},
         |census AS (
         |  SELECT 1 AS round, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM r1out
         |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM r2out
         |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM r3out),
         |top AS (SELECT a, b, sup,
         |               row_number() OVER (ORDER BY sup DESC, a, b) AS rk
         |        FROM r3out)
         |SELECT CAST(c.round AS BIGINT) AS round, c.n_edges,
         |       (SELECT thr FROM th) AS thr,
         |       t.a AS edge_a, t.b AS edge_b, t.sup
         |FROM census c LEFT JOIN top t ON t.rk = c.round
         |ORDER BY round""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      val bk = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey").as("ok"), col("l_partkey").as("item"))
        .distinct()
      var e: DataFrame = bk.as("x")
        .join(bk.as("y"),
          col("x.ok") === col("y.ok") && col("x.item") < col("y.item"))
        .groupBy(col("x.item").as("a"), col("y.item").as("b"))
        .agg(count(lit(1)).as("cab"))
        .select("a", "b")
        .localCheckpoint() // round plans must not nest
      def support(edges: DataFrame): DataFrame = {
        // Degree-ordered wedge orientation (q360's shape; guide §2.5 hot
        // keys), so a skewed degree distribution cannot blow the wedge
        // census past O(E^1.5). Same triangle set — every triangle is
        // found exactly once from its unique order-minimal vertex — so the
        // per-edge support census is identical; the oracle keeps its
        // id-oriented statement, and the hash gate proves the equivalence.
        // (This co-purchase graph is near-regular, so the big win here is
        // the Bloom prefilter below: 259 M → 71 M shuffle records per run
        // at sf0.1, wall 52 → 24 s — the residual volume is the honest
        // 3·|triangles| role census.)
        val deg = edges.select(col("a").as("id"))
          .unionAll(edges.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("dg"))
        val da = deg.withColumnsRenamed(Map("id" -> "a", "dg" -> "da"))
        val db = deg.withColumnsRenamed(Map("id" -> "b", "dg" -> "db"))
        val aFirst = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val o = edges.join(da, Seq("a")).join(db, Seq("b"))
          .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
            when(aFirst, col("b")).otherwise(col("a")).as("dst"),
            when(aFirst, col("db")).otherwise(col("da")).as("ddst"))
          .persist() // wedge self-join + closing probe
        val wedges = o.as("x").join(o.as("y"),
            col("x.src") === col("y.src")
              && (col("x.ddst") < col("y.ddst")
                || (col("x.ddst") === col("y.ddst")
                  && col("x.dst") < col("y.dst"))))
          .select(col("x.src").as("apex"), col("x.dst").as("p"),
            col("y.dst").as("q"))
        // Bloom-prefilter the wedge census before the closing join's
        // exchange (guide §3.2): the co-purchase graph is near-REGULAR, so
        // orientation cannot shrink the ~Σ C(outdeg,2) wedge set, and
        // closing triangles are a ~0.03% needle in it — shuffling every
        // wedge into the closing sort-merge join moved 259 M records per
        // run at sf0.1. Wedges whose (p,q) hash cannot be an edge never
        // enter the exchange; false positives are removed by the exact
        // semi join (hash keys admit no false negatives), so the triangle
        // set — and the support census — is bit-identical.
        val bf = graft.operators.BloomPrefilter.serialize(
          graft.operators.BloomPrefilter.buildFilter(
            o.select(xxhash64(col("src"), col("dst")).as("k")),
            expectedItems = math.max(1L, o.count()), fpp = 0.003))
        val tri = wedges
          .filter(graft.operators.BloomPrefilter.mightContain(bf,
            xxhash64(col("p"), col("q"))))
          .join(o, col("p") === col("src") && col("q") === col("dst"),
            "left_semi")
          .select("apex", "p", "q")
        tri.select(least(col("apex"), col("p")).as("a"),
            greatest(col("apex"), col("p")).as("b"))
          .unionByName(tri.select(least(col("apex"), col("q")).as("a"),
            greatest(col("apex"), col("q")).as("b")))
          .unionByName(tri.select(least(col("p"), col("q")).as("a"),
            greatest(col("p"), col("q")).as("b")))
          .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      }
      val sup0 = support(e).localCheckpoint()
      // data-driven threshold: median of the initial support census
      // the quartile pick ranks the EDGE-scale support census — two-stage
      // zip + driver count (round 13); rank target (n+3) div 4, 0-based
      val nSup = sup0.count()
      val thr = graft.operators.GlobalRank.zipWithRank(sup0,
          Seq(col("sup"), col("a"), col("b")), idName = "rk")
        .where(col("rk") === lit((nSup + 3L) / 4L - 1L))
        .head().getAs[Long]("sup") // 1-row census pick
      val census = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var last: DataFrame = null
      for (r <- 1 to 3) {
        val sup = if (r == 1) sup0 else support(e)
        val (kept, Seq(n)) = Fixpoint.checkpoint(
          e.join(sup, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              coalesce(col("sup"), lit(0L)).as("sup"))
            .where(col("sup") >= thr),
          count(lit(1)))
        last = kept
        census += ((r.toLong, n))
        e = last.select("a", "b").localCheckpoint()
      }
      import s.implicits._
      val cdf = census.toSeq.toDF("round", "n_edges")
      // only ranks 1..3 are ever joined — TakeOrdered bounds the slice
      // before the 3-row window (round 13)
      val top = last.orderBy(col("sup").desc, col("a"), col("b")).limit(3)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sup").desc, col("a"), col("b"))).cast("long"))
      cdf.join(top, col("rk") === col("round"), "left")
        .select(col("round"), col("n_edges"), lit(thr).as("thr"),
          col("a").as("edge_a"), col("b").as("edge_b"), col("sup"))
        .orderBy("round")
    },

    // Degree assortativity (Newman 2002) — the one-number answer to "do
    // hubs talk to hubs?": the Pearson correlation of (deg(src),
    // deg(dst)) over the edges of the customer–supplier trade graph,
    // computed from exact integer co-moments (the q70 correlation posture
    // applied to graph structure). Negative = disassortative (hubs serve
    // the periphery — typical for commerce), positive = hub-club. All
    // sums int64 (degrees ≤ node count); the e6 ratio divides last
    // through DECIMAL(38) headroom.
    QueryDef("q422_assortativity",
      s"""WITH ${TradeGraph.pairsSql("e0")},
        |${TradeGraph.edgesSql(src = "a", dst = "b", pairs = "e0")},
        |dg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg FROM e
        |       GROUP BY a),
        |ed AS (SELECT da.deg AS x, db.deg AS y
        |       FROM e JOIN dg da ON da.v = e.a JOIN dg db ON db.v = e.b),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |             CAST(sum(x) AS HUGEINT) AS sx,
        |             CAST(sum(y) AS HUGEINT) AS sy,
        |             CAST(sum(x * x) AS HUGEINT) AS sxx,
        |             CAST(sum(y * y) AS HUGEINT) AS syy,
        |             CAST(sum(x * y) AS HUGEINT) AS sxy
        |      FROM ed)
        |SELECT CAST(n AS BIGINT) AS n_directed_edges,
        |       CAST((n * sxy - sx * sy) * 1000000
        |            // CAST(round(sqrt(CAST((n * sxx - sx * sx)
        |                 * (n * syy - sy * sy) AS DOUBLE)), 0) AS HUGEINT)
        |         AS BIGINT) AS assortativity_e6
        |FROM m""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val e = TradeGraph.edges(TradeGraph.pairs(s, d), "a", "b")
        .persist() // degree census probes it twice
      val dg = e.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
      val ed = e
        .join(dg.select(col("v").as("a"), col("deg").as("x")), "a")
        .join(dg.select(col("v").as("b"), col("deg").as("y")), "b")
      val m = ed.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      m.select(col("n").as("n_directed_edges"),
        expr(s"""cast((cast(n as $dec) * sxy - cast(sx as $dec) * sy)
                |* 1000000 div cast(round(sqrt(cast(
                |  (cast(n as $dec) * sxx - cast(sx as $dec) * sx)
                |  * (cast(n as $dec) * syy - cast(sy as $dec) * sy)
                |  as double)), 0) as $dec) as bigint)"""
          .stripMargin.replace("\n", " ")).as("assortativity_e6"))
    },

    // Approximate graph diameter by DOUBLE BFS SWEEP — the standard
    // two-pass lower bound (take any vertex, BFS to the farthest vertex
    // u, then u's eccentricity from a second BFS is ≥ half the true
    // diameter and usually exact on real graphs): q302's distance
    // primitive composed with itself, where sweep 2's SEED is sweep 1's
    // argmax — a 1-row census, not data. Both sweeps are the same
    // per-round edge-keyed equi-join + anti-join frontier loop with a
    // 6-hop horizon (stated by both engines; vertices beyond it don't
    // bound this estimate). Over q81's bipartite customer↔supplier graph.
    QueryDef("q337_diameter_sweep",
      s"""WITH RECURSIVE ${TradeGraph.pairsSql(materialized = true)},
        |${TradeGraph.edgesSql(materialized = true)},
        |seed1 AS MATERIALIZED (SELECT min(src) AS id FROM e),
        |b1(id, dist) AS (
        |  SELECT id, 0 FROM seed1
        |  UNION
        |  SELECT e.dst, b1.dist + 1
        |  FROM b1 JOIN e ON e.src = b1.id WHERE b1.dist < 6),
        |d1 AS MATERIALIZED (SELECT id, CAST(min(dist) AS BIGINT) AS dist
        |       FROM b1 GROUP BY id),
        |far AS MATERIALIZED (SELECT id, dist FROM d1 ORDER BY dist DESC, id LIMIT 1),
        |b2(id, dist) AS (
        |  SELECT id, 0 FROM far
        |  UNION
        |  SELECT e.dst, b2.dist + 1
        |  FROM b2 JOIN e ON e.src = b2.id WHERE b2.dist < 6),
        |d2 AS MATERIALIZED (SELECT id, CAST(min(dist) AS BIGINT) AS dist
        |       FROM b2 GROUP BY id)
        |SELECT (SELECT id FROM seed1) AS start_id,
        |       far.id AS far_id, far.dist AS ecc_sweep1,
        |       (SELECT max(dist) FROM d2) AS diameter_lb,
        |       (SELECT CAST(count(*) AS BIGINT) FROM d2) AS n_reached
        |FROM far""".stripMargin) { (s, d) =>
      val e = TradeGraph.edges(TradeGraph.pairs(s, d))
        .persist() // probed once per round per sweep
      val seed1 = e.agg(min("src").as("id"))
      val d1 = TradeGraph.bfs(e, seed1, hops = 6)
      val far = d1.orderBy(col("dist").desc, col("id")).limit(1)
        .localCheckpoint() // 1-row census seeds sweep 2
      val d2 = TradeGraph.bfs(e, far.select("id"), hops = 6)
      val agg2 = broadcast(d2.agg(max("dist").as("diameter_lb"),
        count(lit(1)).as("n_reached")))
      broadcast(seed1.select(col("id").as("start_id")))
        .crossJoin(broadcast(far.select(col("id").as("far_id"),
          col("dist").as("ecc_sweep1"))))
        .crossJoin(agg2)
    },

    // Personalized PageRank (random walk with restart) — q81's global
    // importance becomes proximity TO a seed set when the teleport mass
    // (both the (1−d) restart and the dangling redistribution) lands on
    // the seeds instead of uniformly: the related-items / recommendation-
    // expansion primitive (Haveliwala 2002). Seeds are the 5 smallest
    // vertex ids (a 5-row census); operators/PageRank.personalized runs
    // the same exact 1e-12-integer-quantized message passing and
    // observe()-folded dangling census as the global variant — one
    // edge-keyed exchange per round. The oracle unrolls both rounds with
    // the seeded s(v) in place of 1/n.
    QueryDef("q345_personalized_pr", {
      def r(k: Int) =
        s"""r$k AS (
           |  SELECT v.id, round((CAST(1.0 AS DOUBLE) - 0.85)
           |    * (CASE WHEN sd.id IS NOT NULL THEN CAST(1.0 AS DOUBLE) / ns.ns
           |            ELSE CAST(0 AS DOUBLE) END)
           |    + 0.85 * (coalesce(m$k.m, 0) / 1e12 + (d$k.dm / 1e12)
           |      * (CASE WHEN sd.id IS NOT NULL THEN CAST(1.0 AS DOUBLE) / ns.ns
           |              ELSE CAST(0 AS DOUBLE) END)), 9) AS r
           |  FROM v LEFT JOIN seeds sd ON sd.id = v.id
           |  CROSS JOIN ns CROSS JOIN d$k
           |  LEFT JOIN m$k ON m$k.id = v.id)""".stripMargin
      s"""WITH ${TradeGraph.pairsSql()},
         |${TradeGraph.edgesSql()},
         |v AS (SELECT DISTINCT id FROM
         |        (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |seeds AS (SELECT id FROM v ORDER BY id LIMIT 5),
         |ns AS (SELECT count(*) AS ns FROM seeds),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT v.id,
         |         CASE WHEN sd.id IS NOT NULL THEN CAST(1.0 AS DOUBLE) / ns.ns
         |              ELSE CAST(0 AS DOUBLE) END AS r
         |       FROM v LEFT JOIN seeds sd ON sd.id = v.id CROSS JOIN ns),
         |${PageRank.unrolledSql(2)(r)}
         |SELECT id, round(r, 6) AS ppr FROM r2
         |WHERE round(r, 6) > 0 ORDER BY ppr DESC, id LIMIT 20""".stripMargin
    }) { (s, d) =>
      val e = TradeGraph.edges(TradeGraph.pairs(s, d))
      val seeds = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .orderBy("id").limit(5)
      PageRank.personalized(e, seeds, iters = 2)
        .select(col("id"), round(col("r"), 6).as("ppr"))
        .where(col("ppr") > 0)
        .orderBy(col("ppr").desc, col("id"))
        .limit(20)
    },

    // Louvain local-move sweep — the modularity-GAIN community operator the
    // LPA family (q238/q270) doesn't have: starting from the 16-block
    // spatial partition, every vertex simultaneously evaluates ΔQ for
    // joining each neighboring community vs staying, using the standard
    // Louvain gain scaled to exact integers (×2m²>0 preserves the argmax):
    // gain(C) = 2m·e_{i,C} − k_i·(Σtot(C) − [C = own]·k_i) — the [C = own]
    // term is the remove-self correction. One synchronous pass (Blondel et
    // al. 2008's inner loop made deterministic): per-vertex argmax with a
    // (gain desc, community) tie-break, then the moved-to partition is
    // graded by the q270 exact-integer modularity. Shuffle shape: the
    // neighbor-community census and Σtot census are vertex/community-keyed
    // equi-exchanges; m is a broadcast 1-row total; the argmax is a window
    // partitioned BY VERTEX — never global. Output: top communities after
    // the sweep, each row carrying the global moved-vertex count and Q.
    QueryDef("q351_louvain_move",
      s"""WITH ${SpatialEdges.cte},
         |ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
         |      UNION ALL SELECT v, u FROM e0),
         |l0 AS (SELECT id, (x // 250) * 4 + (y // 250) AS lbl FROM p),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS dg
         |        FROM ed GROUP BY src),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |own AS MATERIALIZED (
         |  SELECT l0.id, l0.lbl AS dlbl, deg.dg
         |  FROM l0 JOIN deg ON deg.id = l0.id),
         |tot AS MATERIALIZED (
         |  SELECT l0.lbl, CAST(sum(deg.dg) AS BIGINT) AS tot
         |  FROM l0 JOIN deg ON deg.id = l0.id GROUP BY l0.lbl),
         |nc AS MATERIALIZED (
         |  SELECT e.src AS id, l.lbl AS clbl, CAST(count(*) AS BIGINT) AS e
         |  FROM ed e JOIN l0 l ON l.id = e.dst GROUP BY 1, 2),
         |stay AS (
         |  SELECT own.id, own.dg, own.dlbl, own.dlbl AS clbl,
         |         CAST(coalesce(nc.e, 0) AS BIGINT) AS e, tot.tot
         |  FROM own JOIN tot ON tot.lbl = own.dlbl
         |           LEFT JOIN nc ON nc.id = own.id AND nc.clbl = own.dlbl),
         |mv AS (
         |  SELECT nc.id, own.dg, own.dlbl, nc.clbl, nc.e, tot.tot
         |  FROM nc JOIN own ON own.id = nc.id AND nc.clbl <> own.dlbl
         |          JOIN tot ON tot.lbl = nc.clbl),
         |opts AS (
         |  SELECT t.*, 2 * m.m * e - dg * (tot - CASE WHEN clbl = dlbl
         |           THEN dg ELSE 0 END) AS gain
         |  FROM (SELECT * FROM stay UNION ALL SELECT * FROM mv) t, m),
         |l1 AS MATERIALIZED (
         |  SELECT id, clbl AS lbl, dlbl FROM (
         |    SELECT id, clbl, dlbl,
         |           row_number() OVER (PARTITION BY id
         |             ORDER BY gain DESC, clbl) AS rn
         |    FROM opts) t WHERE rn = 1),
         |mvd AS (SELECT CAST(count(*) FILTER (WHERE lbl <> dlbl) AS BIGINT)
         |          AS moved FROM l1),
         |cm AS MATERIALIZED (
         |  SELECT l1.lbl AS community, CAST(count(*) AS BIGINT) AS size,
         |         CAST(sum(deg.dg) AS BIGINT) AS d_sum
         |  FROM l1 JOIN deg ON deg.id = l1.id GROUP BY l1.lbl),
         |ein AS (SELECT lu.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
         |        FROM e0 JOIN l1 lu ON lu.id = e0.u
         |                JOIN l1 lv ON lv.id = e0.v
         |        WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
         |parts AS (SELECT cm.community, cm.size, cm.d_sum,
         |            CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in
         |          FROM cm LEFT JOIN ein USING (community)),
         |num AS (SELECT CAST(sum(4 * m.m * e_in - d_sum * d_sum) AS BIGINT)
         |          AS num, CAST(4 * m.m * m.m AS BIGINT) AS den
         |        FROM parts, m GROUP BY m.m),
         |q AS (SELECT CASE WHEN num >= 0 THEN num * 1000000 // den
         |             ELSE -(((-num) * 1000000 + den - 1) // den) END AS q_e6
         |      FROM num)
         |SELECT community, size, e_in, d_sum, CAST(q_e6 AS BIGINT) AS q_e6,
         |       moved
         |FROM (SELECT p.*, q.q_e6, mvd.moved,
         |        row_number() OVER (ORDER BY p.size DESC, p.community) AS rn
         |      FROM parts p, q, mvd) t
         |WHERE rn <= 10 ORDER BY size DESC, community""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      val e0 = SpatialEdges.frame(s, d).persist() // m + e_in + ed both ways
      val ed = e0.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e0.select(col("v").as("src"), col("u").as("dst")))
        .persist() // degree census + neighbor-community census
      val l0 = Tables.customer(s, d).select(col("c_custkey").as("id"),
          (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
          (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
        .select(col("id"),
          (expr("x div 250") * 4 + expr("y div 250")).as("lbl"))
      val deg = ed.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
      val m = e0.agg(count(lit(1)).as("m"))
      val own = l0.join(deg, "id")
        .select(col("id"), col("lbl").as("dlbl"), col("dg"))
        .persist() // stay rows + move rows + the moved census
      val tot = l0.join(deg, "id")
        .groupBy("lbl").agg(sum("dg").as("tot"))
      val nc = ed.join(l0.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"), col("lbl").as("clbl"))
        .agg(count(lit(1)).as("e"))
        .persist() // stay left-join + move rows
      val stay = own.join(tot, col("lbl") === col("dlbl"))
        .join(nc.select(col("id").as("nid"), col("clbl").as("sclbl"),
            col("e")),
          col("nid") === col("id") && col("sclbl") === col("dlbl"), "left")
        .select(col("id"), col("dg"), col("dlbl"), col("dlbl").as("clbl"),
          coalesce(col("e"), lit(0L)).as("e"), col("tot"))
      val mv = nc.join(own, "id").where(col("clbl") =!= col("dlbl"))
        .join(tot, col("lbl") === col("clbl"))
        .select(col("id"), col("dg"), col("dlbl"), col("clbl"), col("e"),
          col("tot"))
      val opts = stay.unionAll(mv).crossJoin(broadcast(m))
        .withColumn("gain", lit(2) * col("m") * col("e")
          - col("dg") * (col("tot")
            - when(col("clbl") === col("dlbl"), col("dg")).otherwise(lit(0L))))
      val w = Window.partitionBy("id").orderBy(col("gain").desc, col("clbl"))
      val l1 = opts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"), col("clbl").as("lbl"), col("dlbl"))
        .persist() // moved census + community census + e_in join
      val mvd = l1.agg(count(when(col("lbl") =!= col("dlbl"), 1)).as("moved"))
      val cm = l1.join(deg, "id")
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("size"), sum("dg").as("d_sum"))
      val ein = e0
        .join(l1.select(col("id").as("u"), col("lbl").as("lu")), "u")
        .join(l1.select(col("id").as("v"), col("lbl").as("lv")), "v")
        .where(col("lu") === col("lv"))
        .groupBy(col("lu").as("community")).agg(count(lit(1)).as("e_in"))
      val parts = cm.join(ein, Seq("community"), "left")
        .select(col("community"), col("size"), col("d_sum"),
          coalesce(col("e_in"), lit(0L)).as("e_in"))
        .crossJoin(broadcast(m))
        .persist() // numerator census + ranked output
      val nd = parts
        .agg(sum(lit(4) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          .as("num"), max(expr("4 * m * m")).as("den"))
      val q = nd.select(
        when(col("num") >= 0, expr("num * 1000000 div den"))
          .otherwise(-expr("((-num) * 1000000 + den - 1) div den"))
          .as("q_e6"))
      // top-10 via TakeOrdered, no rank window (q270's round-13 shape)
      parts.crossJoin(broadcast(q)).crossJoin(broadcast(mvd))
        .orderBy(col("size").desc, col("community")).limit(10)
        .select("community", "size", "e_in", "d_sum", "q_e6", "moved")
        .orderBy(col("size").desc, col("community"))
    },

    // Deterministic random-walk corpus — the DeepWalk/node2vec PREP stage
    // (Perozzi et al. KDD 2014): embeddings train on walk sequences, and
    // generating them at corpus scale is a pure dataflow problem. Every
    // 20th vertex starts a walk; at step t the walker at `cur` takes the
    // neighbor whose per-vertex rank equals a salted hash of (start, cur,
    // t) mod degree — the engine's declared-hash posture (SURVEY §7.4.1)
    // instead of an RNG stream, so 1 or 1000 executors produce the SAME
    // corpus and the oracle replays it arithmetically. Shuffle shape: the
    // ranked adjacency is ONE vertex-keyed window; each of the 4 steps is
    // an equi-join on the current vertex (walk frontier vs adjacency —
    // PageRank's exchange); the visit census is a final node-keyed count.
    // Never a global window, never all-pairs.
    QueryDef("q352_walk_corpus", {
      def stepSql(i: Int): String = {
        val prev = if (i == 1) "w0" else s"s${i - 1}"
        val h = graft.functions.Hashes
          .mulHashSql(s"w.start * 31 + w.cur * 7 + $i", 97)
        s"""s$i AS (SELECT w.start, a.dst AS cur
           |  FROM $prev w JOIN adj a ON a.src = w.cur
           |   AND a.rn = 1 + ($h) % a.dcnt)""".stripMargin
      }
      s"""WITH ${SpatialEdges.cte},
         |ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
         |      UNION ALL SELECT v, u FROM e0),
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
         |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS dcnt
         |  FROM ed),
         |w0 AS (SELECT DISTINCT src AS start, src AS cur FROM ed
         |       WHERE src % 20 = 0),
         |${stepSql(1)},
         |${stepSql(2)},
         |${stepSql(3)},
         |${stepSql(4)},
         |corpus AS (
         |  SELECT cur FROM w0 UNION ALL SELECT cur FROM s1
         |  UNION ALL SELECT cur FROM s2 UNION ALL SELECT cur FROM s3
         |  UNION ALL SELECT cur FROM s4),
         |wk AS (SELECT CAST(count(*) AS BIGINT) AS walks FROM w0)
         |SELECT cur AS id, CAST(count(*) AS BIGINT) AS visits, wk.walks
         |FROM corpus, wk GROUP BY cur, wk.walks
         |ORDER BY visits DESC, id LIMIT 20""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val e0 = SpatialEdges.frame(s, d)
      val ed = e0.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e0.select(col("v").as("src"), col("u").as("dst")))
      val wAdj = Window.partitionBy("src").orderBy("dst")
      val adj = ed
        .withColumn("rn", row_number().over(wAdj))
        .withColumn("dcnt",
          count(lit(1)).over(Window.partitionBy("src")).cast("long"))
        .persist() // all four step joins probe it
      val w0 = adj.select(col("src").as("id")).distinct()
        .where(col("id") % 20 === 0)
        .select(col("id").as("start"), col("id").as("cur"))
        .persist() // step 1 + walk total + corpus
      val steps = (1 to 4).scanLeft(w0) { (prev, t) =>
        prev.join(adj, col("src") === col("cur")
            && col("rn") === (Hashes.mulHash(
              col("start") * 31 + col("cur") * 7 + t, 97) % col("dcnt")) + 1)
          .select(col("start"), col("dst").as("cur"))
      }
      val corpus = steps.map(_.select("cur")).reduce(_ unionAll _)
      val wk = w0.agg(count(lit(1)).as("walks"))
      corpus.groupBy(col("cur").as("id"))
        .agg(count(lit(1)).as("visits"))
        .crossJoin(broadcast(wk))
        .orderBy(col("visits").desc, col("id"))
        .limit(20)
    },

    // k-truss peeling (k = 8) — the cohesion rung between q184's triangle
    // count and q187's k-core: an edge survives only while it closes ≥ k−2
    // triangles WITH OTHER SURVIVORS, so peeling re-counts support on the
    // shrinking subgraph (two pinned rounds, the q187 posture — a
    // fixpoint loop would be count-gated the same way). Each round is the
    // q323 degree-oriented wedge join (wedge work Σ d_out², never
    // all-pairs) + a 3-role edge-support census — all equi-exchanges on
    // edge/vertex keys. Output: the strongest surviving edges with their
    // final support, each row carrying the edge-count funnel m0 → m1 → m2
    // (how much of the graph the truss condition peeled away).
    QueryDef("q360_ktruss", {
      def roundSql(in: String, r: Int): String =
        s"""deg$r AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
           |  FROM (SELECT u AS id FROM $in UNION ALL SELECT v FROM $in)
           |  GROUP BY id),
           |o$r AS MATERIALIZED (
           |  SELECT CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
           |              THEN u ELSE v END AS src,
           |         CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
           |              THEN v ELSE u END AS dst,
           |         CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
           |              THEN dv.dg ELSE du.dg END AS ddst
           |  FROM $in JOIN deg$r du ON $in.u = du.id
           |           JOIN deg$r dv ON $in.v = dv.id),
           |tri$r AS (
           |  SELECT w.apex, w.a, w.b FROM (
           |    SELECT x.src AS apex, x.dst AS a, y.dst AS b
           |    FROM o$r x JOIN o$r y ON x.src = y.src
           |     AND ((x.ddst < y.ddst) OR (x.ddst = y.ddst AND x.dst < y.dst))
           |  ) w JOIN o$r z ON w.a = z.src AND w.b = z.dst),
           |sup$r AS MATERIALIZED (
           |  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
           |    SELECT least(apex, a) AS u, greatest(apex, a) AS v FROM tri$r
           |    UNION ALL
           |    SELECT least(apex, b), greatest(apex, b) FROM tri$r
           |    UNION ALL
           |    SELECT least(a, b), greatest(a, b) FROM tri$r) t
           |  GROUP BY u, v),
           |e$r AS MATERIALIZED (
           |  SELECT sup$r.u, sup$r.v, sup$r.sup AS sup FROM sup$r
           |  JOIN $in ON $in.u = sup$r.u AND $in.v = sup$r.v
           |  WHERE sup$r.sup >= 6)""".stripMargin
      s"""WITH ${SpatialEdges.cteR(40)},
         |${roundSql("e0", 1)},
         |${roundSql("e1", 2)},
         |cnt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS m0,
         |               (SELECT CAST(count(*) AS BIGINT) FROM e1) AS m1,
         |               (SELECT CAST(count(*) AS BIGINT) FROM e2) AS m2)
         |SELECT e2.u, e2.v, e2.sup, cnt.m0, cnt.m1, cnt.m2
         |FROM e2, cnt
         |ORDER BY e2.sup DESC, e2.u, e2.v LIMIT 20""".stripMargin
    }) { (s, d) =>
      def round(e: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val deg = e.select(col("u").as("id"))
          .unionAll(e.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("dg"))
        val du = deg.withColumnsRenamed(Map("id" -> "u", "dg" -> "du"))
        val dv = deg.withColumnsRenamed(Map("id" -> "v", "dg" -> "dv"))
        val uFirst = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        val o = e.join(du, Seq("u")).join(dv, Seq("v"))
          .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
            when(uFirst, col("v")).otherwise(col("u")).as("dst"),
            when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
          .persist() // wedge self-join + closing probe
        val w = o.as("x").join(o.as("y"),
            col("x.src") === col("y.src")
              && (col("x.ddst") < col("y.ddst")
                || (col("x.ddst") === col("y.ddst")
                  && col("x.dst") < col("y.dst"))))
          .select(col("x.src").as("apex"), col("x.dst").as("a"),
            col("y.dst").as("b"))
        // Bloom-prefilter the wedges before the closing join's exchange
        // (q423's note, guide §3.2): non-closing wedges never enter it;
        // the exact semi join removes the false positives, so the
        // triangle set is bit-identical.
        val bf = graft.operators.BloomPrefilter.serialize(
          graft.operators.BloomPrefilter.buildFilter(
            o.select(xxhash64(col("src"), col("dst")).as("k")),
            expectedItems = math.max(1L, o.count()), fpp = 0.003))
        val tri = w
          .filter(graft.operators.BloomPrefilter.mightContain(bf,
            xxhash64(col("a"), col("b"))))
          .join(o, col("a") === col("src") && col("b") === col("dst"),
            "left_semi")
          .select("apex", "a", "b")
        val roles = tri.select(least(col("apex"), col("a")).as("u"),
            greatest(col("apex"), col("a")).as("v"))
          .unionAll(tri.select(least(col("apex"), col("b")),
            greatest(col("apex"), col("b"))))
          .unionAll(tri.select(least(col("a"), col("b")),
            greatest(col("a"), col("b"))))
        val sup = roles.groupBy("u", "v").agg(count(lit(1)).as("sup"))
        sup.join(e, Seq("u", "v")).where(col("sup") >= 6)
          .select("u", "v", "sup")
          .localCheckpoint() // rounds must not nest plans
      }
      val e0 = SpatialEdges.frameR(s, d, 40)
        .persist() // round 1 + m0 census
      val e1 = round(e0)
      val e2 = round(e1.select("u", "v"))
      val cnt = e0.agg(count(lit(1)).as("m0"))
        .crossJoin(e1.agg(count(lit(1)).as("m1")))
        .crossJoin(e2.agg(count(lit(1)).as("m2")))
      e2.crossJoin(broadcast(cnt))
        .orderBy(col("sup").desc, col("u"), col("v"))
        .limit(20)
    },

    // Borůvka minimum-spanning-forest rounds (Borůvka 1926 — THE
    // distributed MST algorithm: GraphX/Giraph implement exactly this) on
    // the distance-weighted spatial graph: every component nominates its
    // cheapest outgoing edge (one component-keyed min-struct aggregate —
    // weights (d², u, v) are unique integer triples, so min IS the
    // deterministic pick), nominated edges merge components (the q61
    // exact CC machinery on the chosen-edge forest), repeat. Two pinned
    // rounds (the q187/q360 posture). Per round: one edge exchange + one
    // vertex-keyed label join + CC on a FOREST (≤V−1 edges, count-gated).
    // Output: one row per round — edges added, forest weight, and the
    // component-count collapse, the numbers a hierarchical/single-link
    // clustering run reads off.
    QueryDef("q364_boruvka_mst",
      s"""WITH RECURSIVE ${SpatialEdges.cte},
         |ew AS MATERIALIZED (
         |  SELECT e0.u, e0.v,
         |         (pa.x - pb.x) * (pa.x - pb.x)
         |           + (pa.y - pb.y) * (pa.y - pb.y) AS d2
         |  FROM e0 JOIN p pa ON pa.id = e0.u JOIN p pb ON pb.id = e0.v),
         |m1 AS (SELECT comp, min({'d2': d2, 'u': u, 'v': v}) AS me FROM (
         |    SELECT u AS comp, d2, u, v FROM ew
         |    UNION ALL SELECT v, d2, u, v FROM ew) t
         |  GROUP BY comp),
         |ch1 AS MATERIALIZED (
         |  SELECT DISTINCT me.u AS u, me.v AS v, me.d2 AS d2 FROM m1),
         |ee1 AS MATERIALIZED (SELECT u AS ea, v AS eb FROM ch1
         |        UNION ALL SELECT v, u FROM ch1),
         |reach1(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM ee1
         |  UNION
         |  SELECT e.eb, reach1.rr FROM ee1 e JOIN reach1 ON reach1.rv = e.ea),
         |c1 AS (SELECT rv AS id, min(rr) AS comp FROM reach1 GROUP BY rv),
         |l1 AS MATERIALIZED (
         |  SELECT p.id, coalesce(c1.comp, p.id) AS comp
         |  FROM p LEFT JOIN c1 ON c1.id = p.id),
         |ew2 AS MATERIALIZED (
         |  SELECT ew.u, ew.v, ew.d2, lu.comp AS cu, lv.comp AS cv
         |  FROM ew JOIN l1 lu ON lu.id = ew.u JOIN l1 lv ON lv.id = ew.v
         |  WHERE lu.comp <> lv.comp),
         |m2 AS (SELECT comp, min({'d2': d2, 'u': u, 'v': v}) AS me FROM (
         |    SELECT cu AS comp, d2, u, v FROM ew2
         |    UNION ALL SELECT cv, d2, u, v FROM ew2) t
         |  GROUP BY comp),
         |ch2 AS MATERIALIZED (
         |  SELECT DISTINCT me.u AS u, me.v AS v, me.d2 AS d2 FROM m2),
         |eall AS MATERIALIZED (SELECT u AS ea, v AS eb FROM ch1
         |  UNION ALL SELECT v, u FROM ch1
         |  UNION ALL SELECT u, v FROM ch2
         |  UNION ALL SELECT v, u FROM ch2),
         |reach2(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM eall
         |  UNION
         |  SELECT e.eb, reach2.rr FROM eall e JOIN reach2 ON reach2.rv = e.ea),
         |c2 AS (SELECT rv AS id, min(rr) AS comp FROM reach2 GROUP BY rv),
         |l2 AS (SELECT p.id, coalesce(c2.comp, p.id) AS comp
         |       FROM p LEFT JOIN c2 ON c2.id = p.id)
         |SELECT CAST(1 AS BIGINT) AS round,
         |       (SELECT CAST(count(*) AS BIGINT) FROM ch1) AS edges_added,
         |       (SELECT CAST(sum(d2) AS BIGINT) FROM ch1) AS weight_d2,
         |       (SELECT CAST(count(DISTINCT comp) AS BIGINT) FROM l1)
         |         AS n_components
         |UNION ALL
         |SELECT 2,
         |       (SELECT CAST(count(*) AS BIGINT) FROM ch2),
         |       (SELECT CAST(sum(d2) AS BIGINT) FROM ch2),
         |       (SELECT CAST(count(DISTINCT comp) AS BIGINT) FROM l2)
         |ORDER BY round""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      import graft.operators.Components
      val pts = Tables.customer(s, d).select(col("c_custkey").as("id"),
          (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
          (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
        .persist() // edge weighting + both vertex-universe left joins
      val ew = SpatialEdges.frame(s, d)
        .join(pts.select(col("id").as("u"), col("x").as("xa"),
          col("y").as("ya")), Seq("u"))
        .join(pts.select(col("id").as("v"), col("x").as("xb"),
          col("y").as("yb")), Seq("v"))
        .select(col("u"), col("v"),
          ((col("xa") - col("xb")) * (col("xa") - col("xb"))
            + (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2"))
        .persist() // both nomination rounds scan it
      def nominate(cand: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame =
        cand.select(col("cu").as("comp"), col("d2"), col("u"), col("v"))
          .unionAll(cand.select(col("cv").as("comp"), col("d2"), col("u"),
            col("v")))
          .groupBy("comp")
          .agg(min(struct(col("d2"), col("u"), col("v"))).as("me"))
          .select(col("me.u").as("u"), col("me.v").as("v"),
            col("me.d2").as("d2"))
          .distinct()
          .localCheckpoint() // rounds must not nest
      val ch1 = nominate(ew.select(col("u").as("cu"), col("v").as("cv"),
        col("u"), col("v"), col("d2")))
      val l1 = pts.select("id")
        .join(Components.connectedComponents(ch1, "u", "v"), Seq("id"),
          "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
        .persist() // round-2 labeling + component count
      val ew2 = ew
        .join(l1.select(col("id").as("u"), col("comp").as("cu")), Seq("u"))
        .join(l1.select(col("id").as("v"), col("comp").as("cv")), Seq("v"))
        .where(col("cu") =!= col("cv"))
      val ch2 = nominate(ew2)
      val l2 = pts.select("id")
        .join(Components.connectedComponents(ch1.unionAll(ch2), "u", "v"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      def statsRow(r: Int, ch: org.apache.spark.sql.DataFrame,
                   l: org.apache.spark.sql.DataFrame) =
        ch.agg(count(lit(1)).as("edges_added"), sum("d2").as("weight_d2"))
          .crossJoin(l.agg(countDistinct("comp").as("n_components")))
          .select(lit(r.toLong).as("round"), col("edges_added"),
            col("weight_d2"), col("n_components"))
      statsRow(1, ch1, l1).unionAll(statsRow(2, ch2, l2)).orderBy("round")
    },

    // Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter 1969;
    // the model behind Splink/dedupe.io) — the PROBABILISTIC counterpart
    // of q228's rule-based ER. A clone relation B (20% of parts,
    // deterministically corrupted: 2 chars clipped off the name, size
    // jittered for half, type swapped for a fifth) is linked back against
    // the full catalog A. Blocking on (brand, first name word) bounds the
    // candidate volume by key cardinality — never |A|×|B|; at 100 TB the
    // blocking key is the designer's cost contract exactly as in q287's
    // LSH planner. Per candidate pair, a 3-field agreement vector
    // (Jaro-Winkler name ≥ 0.94 via the native codegen expression, size
    // equality, type equality); m-probabilities are stated priors,
    // u-probabilities are estimated from the KNOWN-non-match candidate
    // sample (the clone provenance gives the labeled random-pair sample
    // §3 of the paper assumes) with add-one smoothing, so every log
    // weight is finite. Pair score = Σ log-weights, quantized e6;
    // decisions at the ±ln(10) bands. Output: the truth × decision
    // confusion census — the 86 false-matches at sf0.01 are identical
    // catalog names on different parts, the honest F-S failure mode a
    // name-only field can't split.
    QueryDef("q367_fellegi_sunter", {
      import graft.functions.Hashes
      val mh37 = Hashes.mulHashSql("p_partkey", 37)
      val mh41 = Hashes.mulHashSql("p_partkey", 41)
      val mh43 = Hashes.mulHashSql("p_partkey", 43)
      s"""WITH a AS (
         |  SELECT p_partkey AS rid, p_name AS nm, p_size AS sz,
         |         p_type AS ty, p_brand AS br,
         |         string_split(p_name, ' ')[1] AS w1 FROM part),
         |b AS (
         |  SELECT p_partkey + 5000000 AS rid,
         |         substr(p_name, 1, length(p_name) - 2) AS nm,
         |         CASE WHEN ($mh37) % 2 = 0 THEN p_size
         |              ELSE p_size + 1 END AS sz,
         |         CASE WHEN ($mh41) % 5 = 0 THEN 'OTHER' ELSE p_type END AS ty,
         |         p_brand AS br, string_split(p_name, ' ')[1] AS w1
         |  FROM part WHERE ($mh43) % 5 = 0),
         |cand AS (
         |  SELECT a.rid AS ra, b.rid AS rb,
         |         CASE WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.94
         |              THEN 1 ELSE 0 END AS g1,
         |         CASE WHEN a.sz = b.sz THEN 1 ELSE 0 END AS g2,
         |         CASE WHEN a.ty = b.ty THEN 1 ELSE 0 END AS g3,
         |         (b.rid = a.rid + 5000000) AS truth
         |  FROM a JOIN b ON a.br = b.br AND a.w1 = b.w1),
         |u AS (
         |  SELECT (CAST(sum(CASE WHEN NOT truth THEN g1 ELSE 0 END) AS DOUBLE)
         |            + 1) / (sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) + 2)
         |           AS u1,
         |         (CAST(sum(CASE WHEN NOT truth THEN g2 ELSE 0 END) AS DOUBLE)
         |            + 1) / (sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) + 2)
         |           AS u2,
         |         (CAST(sum(CASE WHEN NOT truth THEN g3 ELSE 0 END) AS DOUBLE)
         |            + 1) / (sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) + 2)
         |           AS u3
         |  FROM cand),
         |scored AS (
         |  SELECT truth,
         |         CAST(round((
         |             CASE WHEN g1 = 1 THEN ln(CAST(0.95 AS DOUBLE) / u1)
         |                  ELSE ln(CAST(0.05 AS DOUBLE) / (1 - u1)) END
         |           + CASE WHEN g2 = 1 THEN ln(CAST(0.5 AS DOUBLE) / u2)
         |                  ELSE ln(CAST(0.5 AS DOUBLE) / (1 - u2)) END
         |           + CASE WHEN g3 = 1 THEN ln(CAST(0.8 AS DOUBLE) / u3)
         |                  ELSE ln(CAST(0.2 AS DOUBLE) / (1 - u3)) END
         |           ) * 1000000, 0) AS BIGINT) AS s_e6
         |  FROM cand, u)
         |SELECT truth,
         |       CASE WHEN s_e6 >= 2302585 THEN 'match'
         |            WHEN s_e6 <= 0 THEN 'non_match'
         |            ELSE 'possible' END AS decision,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       min(s_e6) AS min_score_e6, max(s_e6) AS max_score_e6
         |FROM scored GROUP BY truth, decision
         |ORDER BY truth, decision""".stripMargin
    }) { (s, d) =>
      import graft.functions.{Hashes, StringSimExprs}
      val part = Tables.part(s, d)
      val a = part.select(col("p_partkey").as("ra"), col("p_name").as("nm_a"),
        col("p_size").as("sz_a"), col("p_type").as("ty_a"),
        col("p_brand").as("br"),
        element_at(split(col("p_name"), " ", -1), 1).as("w1"))
      val b = part
        .where(Hashes.mulHash(col("p_partkey"), 43) % 5 === 0)
        .select((col("p_partkey") + 5000000L).as("rb"),
          col("p_name").substr(lit(1), length(col("p_name")) - 2).as("nm_b"),
          when(Hashes.mulHash(col("p_partkey"), 37) % 2 === 0, col("p_size"))
            .otherwise(col("p_size") + 1).as("sz_b"),
          when(Hashes.mulHash(col("p_partkey"), 41) % 5 === 0, lit("OTHER"))
            .otherwise(col("p_type")).as("ty_b"),
          col("p_brand").as("br"),
          element_at(split(col("p_name"), " ", -1), 1).as("w1"))
      val cand = a.join(b, Seq("br", "w1"))
        .select(col("ra"), col("rb"),
          when(StringSimExprs.jaroWinkler(col("nm_a"), col("nm_b")) >= 0.94,
            1L).otherwise(0L).as("g1"),
          when(col("sz_a") === col("sz_b"), 1L).otherwise(0L).as("g2"),
          when(col("ty_a") === col("ty_b"), 1L).otherwise(0L).as("g3"),
          (col("rb") === col("ra") + 5000000L).as("truth"))
        .persist() // u census + scoring pass
      def uEst(g: String) =
        (sum(when(!col("truth"), col(g)).otherwise(0L)).cast("double") + 1) /
          (sum(when(!col("truth"), 1L).otherwise(0L)) + 2)
      val u = cand.agg(uEst("g1").as("u1"), uEst("g2").as("u2"),
        uEst("g3").as("u3"))
      // 1−m stated as its own literal: Scala's 1 - 0.95 is
      // 0.050000000000000044, NOT the 0.05 DuckDB parses — the weights
      // would drift in the 15th digit and the e6 hash with them
      def w(g: String, uc: String, m: Double, m1: Double) =
        when(col(g) === 1, log(lit(m) / col(uc)))
          .otherwise(log(lit(m1) / (lit(1d) - col(uc))))
      cand.crossJoin(broadcast(u))
        .select(col("truth"),
          round((w("g1", "u1", 0.95, 0.05) + w("g2", "u2", 0.5, 0.5)
            + w("g3", "u3", 0.8, 0.2)) * 1000000, 0).cast("long").as("s_e6"))
        .groupBy(col("truth"),
          when(col("s_e6") >= 2302585L, "match")
            .when(col("s_e6") <= 0L, "non_match")
            .otherwise("possible").as("decision"))
        .agg(count(lit(1)).as("n_pairs"), min("s_e6").as("min_score_e6"),
          max("s_e6").as("max_score_e6"))
        .orderBy("truth", "decision")
    },

    // Sampled betweenness centrality — Brandes' algorithm (Brandes 2001)
    // from 2 hub pivots over a 4-hop horizon on q81/q337's bipartite
    // customer↔supplier graph, the estimator every large-graph toolkit
    // ships (k-pivot sampling is the standard 100 TB posture; exact
    // betweenness is O(V·E) and off the table). Forward: 4 unrolled BFS
    // layers accumulate shortest-path counts σ as exact integer sums
    // (layer = one edge-keyed exchange + anti-join against the visited
    // set). Backward: dependencies δ flow down the BFS DAG,
    // δ(u) += σu·(1e6+δ(v)) // σv per DAG edge — the per-edge integer
    // division is the stated e6 quantization, identical on both engines,
    // so the accumulated centralities are exact integers. At 100 TB each
    // layer is one shuffle and the DAG edges are a subset of the edge
    // relation — the Pregel/GraphFrames shape; 128-bit guard on the σ·δ
    // product (σ compounds multiplicatively with depth on the dense
    // bipartite core). Output: top-15 bridge vertices by summed
    // dependency — supplier-side ids (+1e6) dominating is the expected
    // structure, they are the only conduits between customers.
    QueryDef("q377_betweenness", {
      // per-seed forward layers f{t}0..f{t}4 + backward d{t}3..d{t}1
      def seedCtes(t: String, seedCte: String): String = {
        def fwd(k: Int): String = {
          val joins = (0 until k)
            .map(i => s"LEFT JOIN f$t$i w$i ON w$i.id = es.b").mkString(" ")
          val conds = (0 until k)
            .map(i => s"w$i.id IS NULL").mkString(" AND ")
          s"f$t$k AS MATERIALIZED (SELECT es.b AS id," +
            s" CAST(sum(f.sig) AS BIGINT) AS sig" +
            s" FROM f$t${k - 1} f JOIN es ON es.a = f.id $joins" +
            s" WHERE $conds GROUP BY es.b)"
        }
        def bwd(k: Int): String = {
          val succDel =
            if (k == 3) "1000000" else "1000000 + coalesce(d.del, 0)"
          val succJoin =
            if (k == 3) "" else s" LEFT JOIN d$t${k + 1} d ON d.id = v.id"
          s"d$t$k AS MATERIALIZED (SELECT u.id," +
            s" CAST(sum(CAST(u.sig AS HUGEINT) * ($succDel) // v.sig)" +
            s" AS BIGINT) AS del" +
            s" FROM f$t$k u JOIN es ON es.a = u.id" +
            s" JOIN f$t${k + 1} v ON v.id = es.b$succJoin GROUP BY u.id)"
        }
        s"f${t}0 AS (SELECT sid AS id, CAST(1 AS BIGINT) AS sig" +
          s" FROM $seedCte),\n" +
          s"${fwd(1)},\n${fwd(2)},\n${fwd(3)},\n${fwd(4)},\n" +
          s"${bwd(3)},\n${bwd(2)},\n${bwd(1)},\n" +
          s"c$t AS (SELECT id, del FROM d${t}1" +
          s" UNION ALL SELECT id, del FROM d${t}2" +
          s" UNION ALL SELECT id, del FROM d${t}3)"
      }
      s"WITH ${TradeGraph.pairsSql(supp = "sk")},\n" +
        s"${TradeGraph.edgesSql("es", "a", "b", supp = "sk", materialized = true)},\n" +
        "deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS dg" +
        " FROM es GROUP BY a),\n" +
        "s1 AS (SELECT id AS sid FROM deg ORDER BY dg DESC, id LIMIT 1),\n" +
        "s2 AS (SELECT deg.id AS sid FROM deg, s1 WHERE deg.id <> s1.sid" +
        " ORDER BY deg.dg DESC, deg.id LIMIT 1),\n" +
        s"${seedCtes("a", "s1")},\n" +
        s"${seedCtes("b", "s2")}\n" +
        "SELECT id, CAST(sum(del) AS BIGINT) AS bc_e6" +
        " FROM (SELECT id, del FROM ca UNION ALL SELECT id, del FROM cb)" +
        " GROUP BY id ORDER BY bc_e6 DESC, id LIMIT 15"
    }) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val es = TradeGraph.edges(TradeGraph.pairs(s, d), "a", "b")
        .persist() // every layer of both seeds scans it
      val deg = es.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("dg")).persist() // both pivot picks
      val s1 = deg.orderBy(col("dg").desc, col("id")).limit(1)
        .select(col("id").as("sid"))
      val s2 = deg.crossJoin(broadcast(s1.withColumnRenamed("sid", "m")))
        .where(col("id") =!= col("m"))
        .orderBy(col("dg").desc, col("id")).limit(1)
        .select(col("id").as("sid"))
      def brandes(seed: DataFrame): DataFrame = {
        val f0 = seed.select(col("sid").as("id"), lit(1L).as("sig"))
          .localCheckpoint()
        // forward: σ-propagating BFS layer with anti-join visited set
        def step(prev: DataFrame, visited: DataFrame): DataFrame =
          prev.join(es, prev("id") === es("a"))
            .select(col("b"), col("sig"))
            .join(visited, col("b") === visited("id"), "left_anti")
            .groupBy(col("b").as("id"))
            .agg(sum("sig").as("sig"))
            .localCheckpoint() // layers must not nest plans
        val f1 = step(f0, f0)
        val f2 = step(f1, f0.select("id").unionAll(f1.select("id")))
        val f3 = step(f2, f0.select("id").unionAll(f1.select("id"))
          .unionAll(f2.select("id")))
        val f4 = step(f3, f0.select("id").unionAll(f1.select("id"))
          .unionAll(f2.select("id")).unionAll(f3.select("id")))
        // backward: δ(u) = Σ σu·(1e6+δv) // σv over DAG edges u→v
        def back(fu: DataFrame, fv: DataFrame,
                 dNext: Option[DataFrame]): DataFrame = {
          val vSide = dNext match {
            case Some(dn) => fv.join(dn.withColumnRenamed("id", "did"),
                col("id") === col("did"), "left")
              .select(col("id").as("vid"), col("sig").as("vsig"),
                coalesce(col("del"), lit(0L)).as("vdel"))
            case None => fv.select(col("id").as("vid"),
              col("sig").as("vsig"), lit(0L).as("vdel"))
          }
          fu.select(col("id").as("uid"), col("sig").as("usig"))
            .join(es, col("uid") === es("a"))
            .join(vSide, col("b") === col("vid"))
            .groupBy(col("uid").as("id"))
            .agg(sum(expr("""cast(cast(usig as decimal(38,0))
                           |* (1000000 + vdel) div vsig as bigint)"""
              .stripMargin.replace("\n", " "))).as("del"))
            .localCheckpoint()
        }
        val d3 = back(f3, f4, None)
        val d2 = back(f2, f3, Some(d3))
        val d1 = back(f1, f2, Some(d2))
        d1.unionAll(d2).unionAll(d3)
      }
      brandes(s1).unionAll(brandes(s2))
        .groupBy("id").agg(sum("del").as("bc_e6"))
        .orderBy(col("bc_e6").desc, col("id")).limit(15)
    },

    // Strongly connected components — the DIRECTED dual of q61/q104's CC,
    // and the question the undirected machinery cannot answer: which
    // nations form trade FEEDBACK LOOPS (each can reach the others along
    // directed flows) vs one-way exporters/importers. Graph: facts rolled
    // up to the nation level (the honest SCC posture at 100 TB — closure
    // lives on a bounded dimension graph, never the fact table), edge
    // cn→sn = sn is one of cn's top-3 supplier nations by revenue cents
    // (self-flows excluded BEFORE ranking; row_number ties broken by sn).
    // operators/Scc runs the semi-naive closure (delta ⋈ edges per round,
    // O(longest-shortest-path) rounds) then labels each nation with the
    // minimum mutually-reachable id. The out-degree-3 top-k edge rule is
    // what makes the answer non-trivial: dominant exporters everyone buys
    // from but who buy selectively themselves split the digraph into a
    // core loop plus one-way periphery. Oracle: recursive-CTE closure +
    // mutual-reach min, the q61 dual with direction preserved.
    QueryDef("q378_scc",
      """WITH RECURSIVE f AS (
        |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
        |         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |r AS (SELECT cn, sn, row_number() OVER (PARTITION BY cn
        |        ORDER BY rev DESC, sn) AS rk
        |      FROM f WHERE cn <> sn),
        |e AS MATERIALIZED (SELECT cn AS src, sn AS dst FROM r WHERE rk <= 3),
        |reach(a, b) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT reach.a, e.dst FROM reach JOIN e ON reach.b = e.src),
        |mutual AS (SELECT r1.a AS ida, r1.b AS idb
        |           FROM reach r1 JOIN reach r2
        |             ON r1.a = r2.b AND r1.b = r2.a),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |lab AS (SELECT n.id,
        |               least(n.id, coalesce(min(m.idb), n.id)) AS scc
        |        FROM nodes n LEFT JOIN mutual m ON m.ida = n.id
        |        GROUP BY n.id)
        |SELECT lab.id AS nation_id, lab.scc AS scc_id,
        |       CAST(count(*) OVER (PARTITION BY lab.scc) AS BIGINT)
        |         AS scc_size
        |FROM lab ORDER BY nation_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val flows = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("rev"))
      val topW = Window.partitionBy("cn").orderBy(col("rev").desc, col("sn"))
      val edges = flows.where(col("cn") =!= col("sn"))
        .withColumn("rk", row_number().over(topW))
        .where(col("rk") <= 3)
        .select(col("cn").as("src"), col("sn").as("dst"))
      val lab = graft.operators.Scc.stronglyConnected(edges, "src", "dst")
      val sizes = lab.groupBy("scc").agg(count(lit(1)).as("scc_size"))
      lab.join(broadcast(sizes), "scc")
        .select(col("id").as("nation_id"), col("scc").as("scc_id"),
          col("scc_size"))
        .orderBy("nation_id")
    },

    // Luby maximal independent set — THE distributed symmetry-breaking
    // primitive (Luby 1986), and the dedup pipeline's diversity selector:
    // on a similarity graph, a maximal independent set is a keep-set in
    // which no two survivors are neighbors (near-duplicates), maximal in
    // that every dropped vertex has a kept neighbor to blame — found in
    // O(log n) rounds of purely local decisions, no sequential greedy
    // scan. Priorities are salted hashes with the vertex id folded in
    // (UNIQUE — adjacent ties would deadlock a round). Output: the
    // per-round census (who joined, who was knocked out, who survived to
    // the next round) — the geometric die-off IS the O(log n) claim.
    // Oracle: the identical rounds unrolled as CTE chains over the same
    // spatial graph (the q178/q184 precedent).
    QueryDef("q382_luby_mis", {
      val rounds = 6
      def roundCtes(r: Int): String =
        s"""nb$r AS (SELECT es.a AS id, min(al.prio) AS mn
           |       FROM es JOIN alive${r - 1} al ON al.id = es.b
           |       GROUP BY es.a),
           |m$r AS MATERIALIZED (
           |  SELECT a.id FROM alive${r - 1} a
           |  LEFT JOIN nb$r ON nb$r.id = a.id
           |  WHERE nb$r.mn IS NULL OR a.prio < nb$r.mn),
           |rm$r AS MATERIALIZED (
           |  SELECT DISTINCT es.b AS id FROM es JOIN m$r ON m$r.id = es.a
           |  WHERE es.b IN (SELECT id FROM alive${r - 1})
           |    AND es.b NOT IN (SELECT id FROM m$r)),
           |alive$r AS MATERIALIZED (
           |  SELECT al.id, al.prio FROM alive${r - 1} al
           |  WHERE al.id NOT IN (SELECT id FROM m$r)
           |    AND al.id NOT IN (SELECT id FROM rm$r))""".stripMargin
      val stats = (1 to rounds).map(r =>
        s"""SELECT $r AS round,
           |  (SELECT CAST(count(*) AS BIGINT) FROM m$r) AS n_mis,
           |  (SELECT CAST(count(*) AS BIGINT) FROM rm$r) AS n_removed,
           |  (SELECT CAST(count(*) AS BIGINT) FROM alive$r)
           |    AS n_alive_after""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH ${SpatialEdges.cte},
         |es AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
         |  UNION ALL SELECT v, u FROM e0),
         |alive0 AS (
         |  SELECT id, (${graft.functions.Hashes.mulHashSql("id", 91)})
         |             * 10000000 + id AS prio
         |  FROM p),
         |${(1 to rounds).map(roundCtes).mkString(",\n")}
         |SELECT CAST(round AS BIGINT) AS round, n_mis, n_removed,
         |       n_alive_after
         |FROM ($stats) z
         |WHERE n_mis + n_removed > 0
         |ORDER BY round""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val edges = SpatialEdges.frame(s, d)
        .select(col("u").as("src"), col("v").as("dst"))
      val verts = Tables.customer(s, d).select(col("c_custkey").as("id"))
        .withColumn("prio",
          graft.functions.Hashes.mulHash(col("id"), 91) * 10000000L
            + col("id"))
      val tot = verts.agg(count(lit(1)).as("total"))
      val decided = graft.operators.Mis.lubyRounds(edges, verts, 6)
      val w = Window.orderBy("round")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      decided.groupBy("round")
        .agg(sum(when(col("selected"), 1L).otherwise(0L)).as("n_mis"),
          sum(when(!col("selected"), 1L).otherwise(0L)).as("n_removed"))
        .where(col("n_mis") + col("n_removed") > 0)
        .crossJoin(broadcast(tot))
        .select(col("round"), col("n_mis"), col("n_removed"),
          (col("total") - sum(col("n_mis") + col("n_removed")).over(w))
            .as("n_alive_after"))
        .orderBy("round")
    },

    // Association rules (market-basket) — the ITEMSET complement to
    // q355's sequential patterns: which part brands co-occur in the same
    // order beyond chance. Baskets are orders, items the DISTINCT brands
    // on the order's lines; pair supports come from one within-basket
    // self-equi-join on the order key (candidates bounded by the per-
    // order line count squared — the Apriori candidate join, never a
    // brand×brand cross product against facts); rules carry confidence
    // P(c|a) and lift P(a,c)/(P(a)P(c)) as exact e6 integer ratios of
    // census counts. The data-derived minimum support (0.1% of baskets,
    // floor 1) keeps the rule list stable as the corpus grows — support
    // thresholds, not top-k over noise, are what make basket mining
    // scale. Top 20 by (lift, antecedent, consequent) for determinism.
    QueryDef("q386_assoc_rules",
      """WITH b AS (
        |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders
        |      FROM b),
        |s AS (SELECT brand, CAST(count(*) AS BIGINT) AS n1
        |      FROM b GROUP BY brand),
        |pr AS (SELECT a.brand AS ant, c.brand AS cons,
        |         CAST(count(*) AS BIGINT) AS n_both
        |       FROM b a JOIN b c ON a.okey = c.okey
        |         AND a.brand <> c.brand
        |       GROUP BY 1, 2),
        |r AS (SELECT pr.ant, pr.cons, pr.n_both,
        |        sa.n1 AS n_ant, sc.n1 AS n_cons, n.n_orders,
        |        CAST(pr.n_both * 1000000 // sa.n1 AS BIGINT) AS conf_e6,
        |        CAST(pr.n_both * n.n_orders * 1000000
        |             // (sa.n1 * sc.n1) AS BIGINT) AS lift_e6
        |      FROM pr JOIN s sa ON sa.brand = pr.ant
        |      JOIN s sc ON sc.brand = pr.cons
        |      CROSS JOIN n
        |      WHERE pr.n_both >= greatest(1, n.n_orders // 1000))
        |SELECT ant, cons, n_both, n_ant, n_cons, conf_e6, lift_e6
        |FROM r ORDER BY lift_e6 DESC, ant, cons LIMIT 20""".stripMargin) {
      (s, d) =>
      val b = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct()
        .persist() // item supports + the within-basket pair join
      val n = b.select("okey").distinct().agg(count(lit(1)).as("n_orders"))
      val sup = b.groupBy("brand").agg(count(lit(1)).as("n1"))
      val pr = b.as("a").join(b.as("c"),
          col("a.okey") === col("c.okey")
            && col("a.brand") =!= col("c.brand"))
        .groupBy(col("a.brand").as("ant"), col("c.brand").as("cons"))
        .agg(count(lit(1)).as("n_both"))
      pr.join(broadcast(sup.select(col("brand").as("ant"),
          col("n1").as("n_ant"))), "ant")
        .join(broadcast(sup.select(col("brand").as("cons"),
          col("n1").as("n_cons"))), "cons")
        .crossJoin(broadcast(n))
        .where(col("n_both") >= greatest(lit(1L),
          expr("n_orders div 1000")))
        .select(col("ant"), col("cons"), col("n_both"), col("n_ant"),
          col("n_cons"),
          expr("n_both * 1000000 div n_ant").as("conf_e6"),
          expr("n_both * n_orders * 1000000 div (n_ant * n_cons)")
            .as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("ant"), col("cons"))
        .limit(20)
    },

    // Skyline (Pareto frontier) — the multi-criteria dominance operator
    // (Börzsönyi et al., ICDE 2001) the top-k family can't express: parts
    // undominated in (price ↓, size ↑) — no other part is cheaper-or-
    // equal AND bigger-or-equal with one strict. For 2-D the frontier
    // needs NO pairwise join at all: one sort by price with a RANGE
    // frame (strictly-cheaper prefix) gives the best size any cheaper
    // part achieves, and a per-price-group max settles equal-price
    // dominance — O(n log n), one exchange, vs the naive n² dominance
    // join. The value-based RANGE frame (not ROWS) is what makes
    // price-ties correct: a part is only tested against STRICTLY cheaper
    // ones.
    QueryDef("q390_skyline",
      """WITH p AS (
        |  SELECT p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_c,
        |         CAST(p_size AS BIGINT) AS sz
        |  FROM part),
        |f AS (SELECT p_partkey, price_c, sz,
        |        max(sz) OVER (ORDER BY price_c
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS best_cheaper,
        |        max(sz) OVER (PARTITION BY price_c) AS best_same
        |      FROM p)
        |SELECT p_partkey, price_c, sz
        |FROM f
        |WHERE (best_cheaper IS NULL OR best_cheaper < sz)
        |  AND sz = best_same
        |ORDER BY price_c, p_partkey""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("price_c"),
        col("p_size").cast("long").as("sz"))
      // the prefix max runs over the PRICE CENSUS (one row per distinct
      // cent value), not the row-scale parts relation (round 13, q304's
      // shape): per-price max first, prefix max over the census via the
      // two-pass extremum zip (price_c unique — a total order), join back.
      // RANGE −1 over duplicated rows ≡ ROWS −1 over the distinct census,
      // so the result is identical.
      val cen = p.groupBy("price_c").agg(max("sz").as("best_same"))
      val f = PrefixSum.cumExtremum(cen, Seq(col("price_c")), "best_same",
        isMax = true, inclusive = false, outName = "best_cheaper")
      p.join(f, "price_c")
        .where((col("best_cheaper").isNull
          || col("best_cheaper") < col("sz"))
          && col("sz") === col("best_same"))
        .select("p_partkey", "price_c", "sz")
        .orderBy("price_c", "p_partkey")
    },

    // DBSCAN — density clustering over the spatial graph (Ester et al.,
    // KDD 1996), the clustering family's density rung next to k-means
    // (centroid, q65) and Louvain (modularity, q351): CORE points have
    // ≥ 3 neighbors within eps=75 (the radius-25 graph has ZERO core
    // points at the small fixture — measured — so DBSCAN runs on the
    // denser grid, the q360 precedent), clusters are connected components of
    // the core-core subgraph (the q61 machinery), BORDER points attach
    // to a core neighbor, everything else is NOISE. The one algorithmic
    // liberty is stated: classic DBSCAN assigns a border point to the
    // first-discovered cluster (scan-order-dependent); here it joins the
    // MINIMUM adjacent core cluster id — deterministic, engine-order-
    // free, and exactly replayable by the oracle's recursive-CTE closure.
    // Scale: degree census + CC rounds + one border join, all on the
    // grid-bucketed edge relation — no stage beyond the q178 family.
    QueryDef("q391_dbscan", {
      s"""WITH RECURSIVE ${SpatialEdges.cteR(75)},
         |es AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
         |  UNION ALL SELECT v, u FROM e0),
         |dg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
         |       FROM es GROUP BY a),
         |core AS MATERIALIZED (SELECT id FROM dg WHERE deg >= 3),
         |ce AS MATERIALIZED (
         |  SELECT es.a AS ea, es.b AS eb FROM es
         |  WHERE es.a IN (SELECT id FROM core)
         |    AND es.b IN (SELECT id FROM core)),
         |reach(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM ce
         |  UNION
         |  SELECT ce.eb, reach.rr FROM ce JOIN reach ON reach.rv = ce.ea),
         |comp AS (SELECT rv AS id, min(rr) AS cl FROM reach GROUP BY rv),
         |corelab AS MATERIALIZED (
         |  SELECT core.id, coalesce(comp.cl, core.id) AS cl
         |  FROM core LEFT JOIN comp ON comp.id = core.id),
         |border AS (
         |  SELECT es.a AS id, min(cl.cl) AS cl
         |  FROM es JOIN corelab cl ON cl.id = es.b
         |  WHERE es.a NOT IN (SELECT id FROM corelab)
         |  GROUP BY es.a),
         |pts AS (SELECT id FROM p),
         |lab AS (
         |  SELECT id, 'core' AS role, cl FROM corelab
         |  UNION ALL SELECT id, 'border', cl FROM border
         |  UNION ALL
         |  SELECT id, 'noise', CAST(NULL AS BIGINT) FROM pts
         |  WHERE id NOT IN (SELECT id FROM corelab)
         |    AND id NOT IN (SELECT id FROM border))
         |SELECT cl AS cluster_id,
         |       CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_core,
         |       CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_border,
         |       CAST(count(*) AS BIGINT) AS n_total
         |FROM lab GROUP BY cl
         |ORDER BY cluster_id NULLS FIRST""".stripMargin
    }) { (s, d) =>
      val es = SpatialEdges.frameR(s, d, 75)
      val sym = es.select(col("u").as("a"), col("v").as("b"))
        .unionAll(es.select(col("v"), col("u")))
        .persist() // degree census + core-core subgraph + border join
      val core = sym.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 3).select("id")
        .persist() // both ends of the core filter + the label join
      val ce = sym
        .join(core.withColumnRenamed("id", "ca"), col("a") === col("ca"))
        .join(core.withColumnRenamed("id", "cb"), col("b") === col("cb"))
        .select(col("a").as("ea"), col("b").as("eb"))
      // large-star/small-star instead of min-label propagation: the
      // radius-75 graph is one giant dense component with grid diameter
      // ~13, so label propagation pays ~13 O(E) rounds where the star
      // algorithm pays O(log n) — exactly the "escape hatch for
      // long-chain / giant-component graphs" the operator documents, and
      // q104 pins that both produce identical min-reachable-id labels
      // (measured here: 156.5 M → 18.9 M shuffle records per run).
      val comp = graft.operators.Components
        .largeStarSmallStar(ce, "ea", "eb")
      val corelab = core
        .join(comp, core("id") === comp("id"), "left")
        .select(core("id"), coalesce(col("comp"), core("id")).as("cl"))
        .persist() // border lookup + the role union
      val border = sym
        .join(corelab.select(col("id").as("bid"), col("cl")),
          col("b") === col("bid"))
        .join(corelab.select(col("id").as("aid")),
          col("a") === col("aid"), "left_anti")
        .groupBy(col("a").as("id")).agg(min("cl").as("cl"))
      val pts = Tables.customer(s, d).select(col("c_custkey").as("id"))
      val noise = pts
        .join(corelab.select("id"), Seq("id"), "left_anti")
        .join(border.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit("noise").as("role"),
          lit(null).cast("long").as("cl"))
      val lab = corelab.select(col("id"), lit("core").as("role"), col("cl"))
        .unionAll(border.select(col("id"), lit("border").as("role"),
          col("cl")))
        .unionAll(noise)
      lab.groupBy(col("cl").as("cluster_id"))
        .agg(sum(when(col("role") === "core", 1L).otherwise(0L))
          .as("n_core"),
          sum(when(col("role") === "border", 1L).otherwise(0L))
            .as("n_border"),
          count(lit(1)).as("n_total"))
        .orderBy(col("cluster_id").asc_nulls_first)
    },

    // Bradley–Terry pairwise-strength ratings (Bradley & Terry 1952,
    // Hunter's MM algorithm 2004) — the model behind chess Elo, LLM
    // preference leaderboards, and A/B preference aggregation: from a
    // census of pairwise WIN COUNTS alone, recover a strength scale in
    // which P(i beats j) = r_i/(r_i + r_j). Games: every lineitem is a
    // match between the customer's nation and the supplier's nation, the
    // customer nation "wins" when the line's discount reaches 5% (a
    // deterministic, data-stated outcome rule). Two MM rounds from a
    // uniform start: r_i ← W_i / Σ_j n_ij/(r_i + r_j), renormalized to
    // mean 1e6 — every quantity an exact integer ratio of the 25×25
    // match census (the k² statistics posture; facts are touched once,
    // by the census groupBy). Output carries wins, games and both
    // rounds' ratings — the spec pins that ratings order consistently
    // with win rate at the top.
    QueryDef("q392_bradley_terry",
      """WITH g AS MATERIALIZED (
        |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
        |         CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS cw
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey),
        |pc AS MATERIALIZED (SELECT least(cn, sn) AS i, greatest(cn, sn) AS j,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN (cn < sn AND cw = 1)
        |                         OR (cn > sn AND cw = 0)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS wi
        |       FROM g GROUP BY 1, 2),
        |e AS MATERIALIZED (SELECT i AS a, j AS b, n, wi AS w FROM pc
        |      UNION ALL SELECT j, i, n, n - wi FROM pc),
        |wt AS MATERIALIZED (SELECT a, CAST(sum(w) AS BIGINT) AS wins,
        |         CAST(sum(n) AS BIGINT) AS games
        |       FROM e GROUP BY a),
        |r0 AS MATERIALIZED (SELECT a, CAST(1000000 AS BIGINT) AS r FROM wt),
        |d1 AS MATERIALIZED (SELECT e.a,
        |         CAST(sum(e.n * 1000000000000 // (ra.r + rb.r)) AS BIGINT)
        |           AS den
        |       FROM e JOIN r0 ra ON ra.a = e.a JOIN r0 rb ON rb.a = e.b
        |       GROUP BY e.a),
        |u1 AS MATERIALIZED (SELECT wt.a, wt.wins * 1000000000000 // d1.den AS r
        |       FROM wt JOIN d1 ON d1.a = wt.a),
        |s1 AS MATERIALIZED (SELECT CAST(sum(r) AS BIGINT) AS t,
        |              CAST(count(*) AS BIGINT) AS k FROM u1),
        |r1 AS MATERIALIZED (SELECT a, CAST(r * k * 1000000 // t AS BIGINT) AS r
        |       FROM u1, s1),
        |d2 AS MATERIALIZED (SELECT e.a,
        |         CAST(sum(e.n * 1000000000000 // (ra.r + rb.r)) AS BIGINT)
        |           AS den
        |       FROM e JOIN r1 ra ON ra.a = e.a JOIN r1 rb ON rb.a = e.b
        |       GROUP BY e.a),
        |u2 AS MATERIALIZED (SELECT wt.a, wt.wins * 1000000000000 // d2.den AS r
        |       FROM wt JOIN d2 ON d2.a = wt.a),
        |s2 AS MATERIALIZED (SELECT CAST(sum(r) AS BIGINT) AS t,
        |              CAST(count(*) AS BIGINT) AS k FROM u2),
        |r2 AS MATERIALIZED (SELECT a, CAST(r * k * 1000000 // t AS BIGINT) AS r
        |       FROM u2, s2)
        |SELECT wt.a AS nation_id, wt.wins, wt.games,
        |       r1.r AS r1_e6, r2.r AS r2_e6
        |FROM wt JOIN r1 ON r1.a = wt.a JOIN r2 ON r2.a = wt.a
        |ORDER BY nation_id""".stripMargin) { (s, d) =>
      val g = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .where(col("c_nationkey") =!= col("s_nationkey"))
        .select(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"),
          when(col("l_discount") >= 0.05, 1L).otherwise(0L).as("cw"))
      val pc = g.groupBy(least(col("cn"), col("sn")).as("i"),
          greatest(col("cn"), col("sn")).as("j"))
        .agg(count(lit(1)).as("n"),
          sum(when((col("cn") < col("sn") && col("cw") === 1)
            || (col("cn") > col("sn") && col("cw") === 0), 1L)
            .otherwise(0L)).as("wi"))
      val e = pc.select(col("i").as("a"), col("j").as("b"), col("n"),
          col("wi").as("w"))
        .unionAll(pc.select(col("j"), col("i"), col("n"),
          (col("n") - col("wi")).as("w")))
        .persist() // the census drives both MM rounds
      val wt = e.groupBy("a").agg(sum("w").as("wins"), sum("n").as("games"))
        .persist()
      def round(r: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val den = e
          .join(broadcast(r.select(col("a").as("ra_a"), col("r").as("ra"))),
            col("a") === col("ra_a"))
          .join(broadcast(r.select(col("a").as("rb_a"), col("r").as("rb"))),
            col("b") === col("rb_a"))
          .groupBy("a")
          .agg(sum(expr("n * 1000000000000L div (ra + rb)")).as("den"))
        val u = wt.join(den, "a")
          .select(col("a"), expr("wins * 1000000000000L div den").as("r"))
        val sTot = u.agg(sum("r").as("t"), count(lit(1)).as("k"))
        u.crossJoin(broadcast(sTot))
          .select(col("a"), expr("r * k * 1000000 div t").as("r"))
      }
      val r0 = wt.select(col("a"), lit(1000000L).as("r"))
      val r1 = round(r0).persist() // feeds round 2 + the output join
      val r2 = round(r1)
      wt.join(r1.withColumnRenamed("r", "r1_e6"), "a")
        .join(r2.withColumnRenamed("r", "r2_e6"), "a")
        .select(col("a").as("nation_id"), col("wins"), col("games"),
          col("r1_e6"), col("r2_e6"))
        .orderBy("nation_id")
    },

    // Gale–Shapley stable matching (Gale & Shapley 1962; the deferred-
    // acceptance mechanism behind residency match, school choice, and ad
    // slot allocation): customer nations propose to supplier nations,
    // each side ranking the other by bilateral trade revenue (complete
    // 25×25 preference lists from the flow census, ties by id). Rounds
    // are SIMULTANEOUS deferred acceptance — every free proposer offers
    // to its best not-yet-rejecting counterpart, each receiver keeps the
    // best of {tenant, new offers} and rejects the rest — pure window
    // argmins over the preference census, no sequential scan, the
    // Luby-style symmetry-free round structure. Customers-propose yields
    // the unique CUSTOMER-OPTIMAL stable matching, so any correct
    // implementation must agree row-for-row; the spec additionally
    // verifies the definition — no blocking pair — by brute force.
    // Oracle: the identical rounds unrolled as CTE chains (windows are
    // legal in non-recursive CTEs). Scale: everything here is the k²
    // dimension census; facts are touched once by the flow rollup.
    QueryDef("q395_stable_matching", {
      val rounds = 40
      def roundCtes(r: Int): String =
        s"""avail$r AS (
           |  SELECT cp.cn, cp.sn, cp.crk FROM cpref cp
           |  WHERE cp.cn NOT IN (SELECT c FROM m${r - 1})
           |    AND NOT EXISTS (SELECT 1 FROM rej${r - 1} j
           |                    WHERE j.c = cp.cn AND j.s = cp.sn)),
           |prop$r AS (
           |  SELECT cn AS c, sn AS s FROM (
           |    SELECT cn, sn,
           |           row_number() OVER (PARTITION BY cn ORDER BY crk)
           |             AS rn
           |    FROM avail$r) z WHERE rn = 1),
           |cand$r AS MATERIALIZED (
           |  SELECT c, s FROM prop$r UNION ALL SELECT c, s FROM m${r - 1}),
           |m$r AS MATERIALIZED (
           |  SELECT c, s FROM (
           |    SELECT cand$r.c, cand$r.s,
           |           row_number() OVER (PARTITION BY cand$r.s
           |             ORDER BY sp.srk) AS rn
           |    FROM cand$r JOIN spref sp
           |      ON sp.cn = cand$r.c AND sp.sn = cand$r.s) z
           |  WHERE rn = 1),
           |rej$r AS MATERIALIZED (
           |  SELECT c, s FROM rej${r - 1}
           |  UNION ALL
           |  SELECT c, s FROM cand$r
           |  WHERE NOT EXISTS (SELECT 1 FROM m$r
           |                    WHERE m$r.c = cand$r.c
           |                      AND m$r.s = cand$r.s))""".stripMargin
      s"""WITH f AS (
         |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
         |         CAST(sum(CAST(round(l.l_extendedprice * 100, 0)
         |           AS BIGINT)) AS BIGINT) AS rev
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |nk AS (SELECT n_nationkey AS id FROM nation),
         |grid AS MATERIALIZED (
         |  SELECT a.id AS cn, b.id AS sn, coalesce(f.rev, 0) AS rev
         |  FROM nk a CROSS JOIN nk b
         |  LEFT JOIN f ON f.cn = a.id AND f.sn = b.id),
         |cpref AS MATERIALIZED (
         |  SELECT cn, sn, row_number() OVER (PARTITION BY cn
         |    ORDER BY rev DESC, sn) AS crk FROM grid),
         |spref AS MATERIALIZED (
         |  SELECT cn, sn, row_number() OVER (PARTITION BY sn
         |    ORDER BY rev DESC, cn) AS srk FROM grid),
         |m0 AS (SELECT CAST(NULL AS BIGINT) AS c, CAST(NULL AS BIGINT) AS s
         |       WHERE false),
         |rej0 AS (SELECT CAST(NULL AS BIGINT) AS c,
         |                CAST(NULL AS BIGINT) AS s WHERE false),
         |${(1 to rounds).map(roundCtes).mkString(",\n")},
         |um AS (SELECT CAST(count(*) AS BIGINT) AS n_unmatched FROM nk
         |       WHERE id NOT IN (SELECT c FROM m$rounds))
         |SELECT m.c AS customer_nation, m.s AS supplier_nation,
         |       CAST(cp.crk AS BIGINT) AS c_rank,
         |       CAST(sp.srk AS BIGINT) AS s_rank,
         |       um.n_unmatched
         |FROM m$rounds m
         |JOIN cpref cp ON cp.cn = m.c AND cp.sn = m.s
         |JOIN spref sp ON sp.cn = m.c AND sp.sn = m.s
         |CROSS JOIN um
         |ORDER BY customer_nation""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      val f = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("fcn"), col("s_nationkey").as("fsn"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("rev"))
      val nk = Tables.nation(s, d).select(col("n_nationkey").as("id"))
      val grid = nk.select(col("id").as("cn"))
        .crossJoin(broadcast(nk.select(col("id").as("sn"))))
        .join(f, col("cn") === col("fcn") && col("sn") === col("fsn"),
          "left")
        .select(col("cn"), col("sn"), coalesce(col("rev"), lit(0L))
          .as("rev"))
      val cpref = grid.select(col("cn"), col("sn"),
        row_number().over(Window.partitionBy("cn")
          .orderBy(col("rev").desc, col("sn"))).cast("long").as("crk"))
        .persist() // every round's proposal pass + the output ranks
      val spref = grid.select(col("cn"), col("sn"),
        row_number().over(Window.partitionBy("sn")
          .orderBy(col("rev").desc, col("cn"))).cast("long").as("srk"))
        .persist() // every round's keep pass + the output ranks
      val none: DataFrame = s.emptyDataFrame
        .withColumn("c", lit(0L)).withColumn("s", lit(0L))
        .where(lit(false)).select("c", "s")
      val n = nk.count()
      // GS with complete lists always terminates; 40 rounds is a bound, not
      // a proof. Progress = proposers still free = n − |kept|.
      val (matched, _) = Fixpoint.converge("stable matching", (none, none),
          40) { case (matched, rej) =>
        val avail = cpref
          .join(matched.select(col("c").as("mc")),
            col("cn") === col("mc"), "left_anti")
          .join(rej.select(col("c").as("jc"), col("s").as("js")),
            col("cn") === col("jc") && col("sn") === col("js"),
            "left_anti")
        val prop = avail
          .withColumn("rn", row_number().over(
            Window.partitionBy("cn").orderBy("crk")))
          .where(col("rn") === 1)
          .select(col("cn").as("c"), col("sn").as("s"))
        val cand = prop.unionByName(matched).localCheckpoint()
        val (kept, Seq(nKept)) = Fixpoint.checkpoint(cand
          .join(spref, col("c") === col("cn") && col("s") === col("sn"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("s").orderBy("srk")))
          .where(col("rn") === 1)
          .select("c", "s"),
          count(lit(1)))
        val rej1 = rej.unionByName(
          cand.join(kept.withColumnsRenamed(Map("c" -> "kc", "s" -> "ks")),
            col("c") === col("kc") && col("s") === col("ks"), "left_anti"))
          .localCheckpoint()
        ((kept, rej1), n - nKept)
      }
      val um = nk
        .join(matched.select(col("c")), col("id") === col("c"), "left_anti")
        .agg(count(lit(1)).as("n_unmatched"))
      val cpOut = cpref.select(col("cn").as("cpn"), col("sn").as("cps"),
        col("crk"))
      val spOut = spref.select(col("cn").as("spn"), col("sn").as("sps"),
        col("srk"))
      matched
        .join(cpOut, col("c") === col("cpn") && col("s") === col("cps"))
        .join(spOut, col("c") === col("spn") && col("s") === col("sps"))
        .crossJoin(broadcast(um))
        .select(col("c").as("customer_nation"),
          col("s").as("supplier_nation"), col("crk").as("c_rank"),
          col("srk").as("s_rank"), col("n_unmatched"))
        .orderBy("customer_nation")
    },

    // Geo distance join — the spherical upgrade of the planar q178 grid:
    // customers get deterministic lat/lon (hash-derived, lat ∈ ±60°,
    // lon ∈ ±170° — wrap-free by construction, stated; production
    // double-registers antimeridian-boundary points), candidate pairs
    // come from a LOSSLESS 3×3 lat/lon cell join (0.5° × 1.0° cells:
    // 50 km ≤ 0.45° of latitude everywhere and ≤ 0.9° of longitude up
    // to |lat| = 60°), and only candidates pay the haversine — one
    // trig chain per candidate (radians/sin/cos/asin/sqrt, identical
    // order on both engines), rounded to integer meters before the
    // 50 km cut. The brute-force-equality spec proves the grid drops
    // NOTHING. Scale: candidates are O(n · local density), never n².
    QueryDef("q399_geo_join", {
      import graft.functions.Hashes
      val dist =
        """CAST(round(2 * 6371008.8 * asin(sqrt(
          |  sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
          |  + cos(radians(a.lat)) * cos(radians(b.lat))
          |    * sin(radians(b.lon - a.lon) / 2)
          |    * sin(radians(b.lon - a.lon) / 2))), 0) AS BIGINT)"""
          .stripMargin.replace("\n", " ")
      s"""WITH p AS (
         |  SELECT c_custkey AS id,
         |         (${Hashes.mulHashSql("c_custkey", 17)} % 120000)
         |           / CAST(1000 AS DOUBLE) - 60 AS lat,
         |         (${Hashes.mulHashSql("c_custkey", 19)} % 340000)
         |           / CAST(1000 AS DOUBLE) - 170 AS lon
         |  FROM customer),
         |a AS (SELECT id, lat, lon,
         |        CAST(floor(lat / 0.5) AS BIGINT) + dx AS clat,
         |        CAST(floor(lon / 1.0) AS BIGINT) + dy AS clon
         |      FROM p, (SELECT unnest(range(-1, 2)) AS dx) xx,
         |           (SELECT unnest(range(-1, 2)) AS dy) yy),
         |b AS (SELECT id, lat, lon,
         |        CAST(floor(lat / 0.5) AS BIGINT) AS clat,
         |        CAST(floor(lon / 1.0) AS BIGINT) AS clon
         |      FROM p),
         |cand AS (SELECT DISTINCT a.id AS u, b.id AS v,
         |           a.lat AS alat, a.lon AS alon,
         |           b.lat AS blat, b.lon AS blon
         |         FROM a JOIN b ON a.clat = b.clat AND a.clon = b.clon
         |           AND a.id < b.id),
         |d AS (SELECT u, v, $dist AS dist_m
         |      FROM (SELECT u, v, alat AS lat, alon AS lon FROM cand) a
         |      JOIN (SELECT u AS u2, v AS v2, blat AS lat, blon AS lon
         |            FROM cand) b
         |        ON a.u = b.u2 AND a.v = b.v2
         |      WHERE true),
         |hits AS (SELECT u, v, dist_m FROM d WHERE dist_m <= 50000),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM hits)
         |SELECT u, v, dist_m, nc.n_pairs
         |FROM hits, nc ORDER BY dist_m, u LIMIT 20""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val p = Tables.customer(s, d).select(col("c_custkey").as("id"),
        ((Hashes.mulHash(col("c_custkey"), 17) % 120000)
          .cast("double") / 1000 - 60).as("lat"),
        ((Hashes.mulHash(col("c_custkey"), 19) % 340000)
          .cast("double") / 1000 - 170).as("lon"))
        .persist() // both grid sides
      val a = p.select(col("id"), col("lat"), col("lon"),
          explode(expr("sequence(-1, 1)")).as("dx"), col("lat"))
        .select(col("id"), col("lat"), col("lon"), col("dx"),
          explode(expr("sequence(-1, 1)")).as("dy"))
        .select(col("id").as("u"), col("lat").as("alat"),
          col("lon").as("alon"),
          (floor(col("lat") / 0.5).cast("long") + col("dx")).as("clat"),
          (floor(col("lon") / 1.0).cast("long") + col("dy")).as("clon"))
      val b = p.select(col("id").as("v"), col("lat").as("blat"),
        col("lon").as("blon"),
        floor(col("lat") / 0.5).cast("long").as("clat"),
        floor(col("lon") / 1.0).cast("long").as("clon"))
      val cand = a.join(b, Seq("clat", "clon"))
        .where(col("u") < col("v"))
        .select("u", "v", "alat", "alon", "blat", "blon")
        .distinct()
      val dm = round(lit(2d) * 6371008.8 * asin(sqrt(
        sin(radians(col("blat") - col("alat")) / 2)
          * sin(radians(col("blat") - col("alat")) / 2)
          + cos(radians(col("alat"))) * cos(radians(col("blat")))
          * sin(radians(col("blon") - col("alon")) / 2)
          * sin(radians(col("blon") - col("alon")) / 2))), 0)
        .cast("long")
      val hits = cand.select(col("u"), col("v"), dm.as("dist_m"))
        .where(col("dist_m") <= 50000)
        .persist() // count census + top-20
      val nc = hits.agg(count(lit(1)).as("n_pairs"))
      hits.crossJoin(broadcast(nc))
        .orderBy("dist_m", "u")
        .limit(20)
    }
  )
}

/** q81's customer↔supplier trade graph, shared by the graph queries over
  * it: the distinct (customer, supplier) pairs of lineitem ⋈ orders, and
  * the bipartite edge relation in both directions with suppliers offset
  * into their own id space (+1e6).
  */
private object TradeGraph {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Distinct trade pairs (c, s). */
  def pairs(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()

  /** Both directions of every [[pairs]] row as (`src`, `dst`). */
  def edges(pairs: DataFrame, src: String = "src",
            dst: String = "dst"): DataFrame =
    pairs.select(col("c").as(src), (col("s") + 1000000L).as(dst))
      .unionAll(pairs.select((col("s") + 1000000L).as(src), col("c").as(dst)))

  private def mat(materialized: Boolean) =
    if (materialized) "MATERIALIZED " else ""

  /** DuckDB twin of [[pairs]] as CTE `name`, the supplier column `supp`. */
  def pairsSql(name: String = "pairs", materialized: Boolean = false,
               supp: String = "s"): String =
    s"""$name AS ${mat(materialized)}(
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS $supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin

  /** DuckDB twin of [[edges]] over the [[pairsSql]] CTE `pairs`. */
  def edgesSql(name: String = "e", src: String = "src", dst: String = "dst",
               pairs: String = "pairs", supp: String = "s",
               materialized: Boolean = false): String =
    s"""$name AS ${mat(materialized)}(SELECT c AS $src, $supp + 1000000 AS $dst
       |  FROM $pairs UNION ALL SELECT $supp + 1000000, c FROM $pairs)""".stripMargin

  /** Hop-bounded BFS over `e(src, dst)` from `seed(id)`: (id, dist) with
    * first-touch distances ≤ `hops`. Each round is one edge-keyed
    * equi-join plus an anti-join against everything already reached, so
    * first touch IS the minimum hop count.
    */
  def bfs(e: DataFrame, seed: DataFrame, hops: Int): DataFrame = {
    var known = seed.withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = known.select("id")
    for (h <- 1 to hops) {
      val next = frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(known, Seq("id"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .localCheckpoint() // round plans must not nest
      known = known.unionByName(next).localCheckpoint()
      frontier = next.select("id")
    }
    known
  }
}

/** The deterministic spatial graph shared by the q178/q184/q187 family:
  * customers as points on a 1000×1000 plane (coordinates are salted hashes of
  * the key), edges between pairs within radius 25, built with the lossless
  * 3×3 grid-bucket equi-join — candidates are O(n·density), never the n²
  * cross join the oracle states.
  */
private object SpatialEdges {
  import graft.functions.Hashes

  /** `p` (points) + `e0` (edges u < v) as oracle CTE text. MATERIALIZED:
    * both downstream chains (orientation, peel rounds) reference e0 more
    * than once, and DuckDB inlines plain CTEs.
    */
  val cte: String = cteR(25)

  /** Radius-parametrized variant (q360's truss peel needs the DENSER
    * radius-40 graph — the radius-25 graph's max edge support is 2, so a
    * 4-truss is vacuously empty). Cell size = radius keeps the 3×3
    * neighborhood lossless at any radius.
    */
  def cteR(r: Int): String =
    s"""p AS MATERIALIZED (SELECT c_custkey AS id,
       |         (${Hashes.mulHashSql("c_custkey", 11)}) % 1000 AS x,
       |         (${Hashes.mulHashSql("c_custkey", 13)}) % 1000 AS y
       |       FROM customer),
       |e0 AS MATERIALIZED (SELECT a.id AS u, b.id AS v
       |       FROM p a JOIN p b ON a.id < b.id
       |        AND (a.x - b.x) * (a.x - b.x)
       |            + (a.y - b.y) * (a.y - b.y) <= ${r * r})""".stripMargin

  /** The same edge relation (u, v) via the grid-bucketed join. */
  def frame(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    frameR(s, d, 25)

  def frameR(s: org.apache.spark.sql.SparkSession, d: String,
             r: Int): org.apache.spark.sql.DataFrame = {
    val pts = Tables.customer(s, d).select(col("c_custkey").as("id"),
      (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
      (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val a = pts
      .select(col("id").as("u"), col("x").as("ax"), col("y").as("ay"),
        explode(offsets).as("off"))
      .select(col("u"), col("ax"), col("ay"),
        (expr(s"ax div $r") + col("off.dx")).as("cx"),
        (expr(s"ay div $r") + col("off.dy")).as("cy"))
    val b = pts.select(col("id").as("v"), col("x").as("bx"),
      col("y").as("by"), expr(s"bx div $r").as("cx"),
      expr(s"by div $r").as("cy"))
    a.join(b, Seq("cx", "cy"))
      .where(col("u") < col("v")
        && (col("ax") - col("bx")) * (col("ax") - col("bx"))
           + (col("ay") - col("by")) * (col("ay") - col("by")) <= r * r)
      .select("u", "v")
  }
}

/** q238/q270's deterministic 2-round label propagation over the spatial
  * graph: every vertex starts as its own label, and each round takes the
  * most frequent neighbour label (count DESC, label ASC).
  */
private object SpatialLpa {

  /** Oracle CTEs `ed` (e0 in both orientations), `l0` and the per-round
    * `c<r>`/`l<r>`; `l2` holds the final labels. Follows `SpatialEdges.cte`.
    */
  val cte: String = {
    def round(r: Int) =
      s"""c$r AS (SELECT e.src AS id, l.lbl, count(*) AS c
         |       FROM ed e JOIN l${r - 1} l ON l.id = e.dst GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |           row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl)
         |             AS rn
         |    FROM c$r) t WHERE rn = 1)""".stripMargin
    s"""ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
       |      UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM ed),
       |${round(1)},
       |${round(2)}""".stripMargin
  }

  /** `ed` as (src, dst), persisted HASH-CLUSTERED BY dst (the PageRank
    * edge-layout pattern, guide §2.4): every propagation round joins ed on
    * dst against the O(V) label relation — too big to broadcast at scale —
    * so the edge side would otherwise re-exchange once per round; one
    * layout paid once serves both rounds.
    */
  def edges(e0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e0.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e0.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("dst"))
      .persist() // both propagation rounds scan it

  /** (id, lbl) after two rounds over [[edges]]. */
  def labels(ed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def round(labels: org.apache.spark.sql.DataFrame) = {
      val cnt = ed.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("id").orderBy(col("c").desc, col("lbl"))
      cnt.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("id", "lbl")
        .localCheckpoint() // round plans must not nest
    }
    round(round(ed.select(col("src").as("id"), col("src").as("lbl")).distinct()))
  }
}

/** The consonant-class phonetic code shared by q228's F blocking pass: per
  * character, lowercase → strip literal digits → Soundex's consonant classes
  * (b/f/p/v→1, c/g/j/k/q/s/x/z→2, d/t→3, l→4, m/n→5, r→6) → drop everything
  * unclassified (vowels, y/h/w, spaces, punctuation). Soundex's adjacent-run
  * collapse needs a backreference, which RE2 lacks, so it is deliberately
  * omitted — the code is stated as the SAME character-class regexp_replace
  * chain on both engines (playbook rule #9).
  */
private[graft] object PhoneticSql {
  private val classes = Seq(
    "[0-9]" -> "", "[bfpv]" -> "1", "[cgjkqsxz]" -> "2",
    "[dt]" -> "3", "[l]" -> "4", "[mn]" -> "5", "[r]" -> "6")

  /** DuckDB expression text for the skeleton of `e`. */
  def skel(e: String): String = {
    val mapped = classes.foldLeft(s"lower($e)") { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }
    s"regexp_replace($mapped, '[^1-6]', '', 'g')"
  }

  /** The identical chain as a Spark Column (regexp_replace is global). */
  def skelCol(c: Column): Column = {
    val mapped = classes.foldLeft(lower(c)) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
    regexp_replace(mapped, "[^1-6]", "")
  }
}

/** Shared edge set + oracle for the dedup-clustering pair q61/q104: the
  * embedding-cosine near-dup graph (q43's edges) and the recursive-CTE
  * transitive closure computing min-reachable-id labels. Two algorithms,
  * one contract — both must hash-match this SQL.
  */
private object CcDedup {
  import graft.functions.Tensors

  def pairs(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val v = Tables.embeddings(s, d).where(col("vec_id") < 1000)
      .select(col("vec_id"), col("label"), col("embedding"),
        Tensors.norm(col("embedding")).as("nrm"))
    v.as("a").join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("pa"), col("b.vec_id").as("pb"),
        round(Tensors.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .where(col("cos") >= 0.3)
      .select("pa", "pb")
  }

  val oracleSql: String = {
    val norm = SimilarityQueries.normSql("embedding")
    val dot  = SimilarityQueries.dotSql("a.embedding", "b.embedding")
    s"""WITH RECURSIVE
       |v AS (SELECT vec_id, label, embedding, $norm AS nrm
       |      FROM embeddings WHERE vec_id < 1000),
       |p AS (SELECT a.vec_id AS pa, b.vec_id AS pb
       |      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
       |      WHERE round($dot / (a.nrm * b.nrm), 6) >= 0.3),
       |e AS MATERIALIZED (SELECT pa AS ea, pb AS eb FROM p
       |      UNION ALL SELECT pb, pa FROM p),
       |reach(rv, rr) AS (
       |  SELECT DISTINCT ea, ea FROM e
       |  UNION
       |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea)
       |SELECT rv AS vec_id, min(rr) AS component
       |FROM reach GROUP BY rv ORDER BY vec_id""".stripMargin
  }
}
