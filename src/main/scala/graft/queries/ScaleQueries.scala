package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.operators.{BloomPrefilter, BucketCatalog, SkewJoin, Split}
import graft.streaming.Drain

/** Scale-technique queries: TF-IDF over exploded tokens, bucketed
  * (exchange-free) joins, and salted skew joins. Each is oracle-checked
  * against the semantically-equivalent plain formulation, so the check
  * proves the *technique* preserves results while the plan changes shape.
  */
object ScaleQueries {

  val defs: Seq[QueryDef] = Seq(

    // TF-IDF: explode tokens → tf per (doc, token), df per token, smoothed
    // idf — the canonical shuffle-heavy text aggregation. Top-3 terms per doc
    // with deterministic (rounded score, token) ranking.
    QueryDef("q50_tfidf",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         round(tf.tf * ln((n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, token) AS rank
        |  FROM scored WHERE doc_id < 100)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      // the exploded token relation feeds THREE aggregates (tf, df, count) —
      // persist it so the scan+explode runs once, not per consumer (at
      // 100 TB the recompute would triple the dominant cost)
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .persist()
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy("token").agg(countDistinct("doc_id").as("df"))
      // doc count stays a lazy 1-row agg cross-joined in (like the oracle's
      // CTE) — no eager count() job / second scan
      val nDocs = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n_docs")))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(nDocs)
        .select(col("doc_id"), col("token"),
          round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
        .where(col("doc_id") < 100)
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
        .orderBy("doc_id", "rank")
    },

    // Bucketed co-located join: both sides pre-bucketed+sorted on the join
    // key into native-source tables, then sort-merge joined — zero Exchange
    // in the plan (bucketing replaces the shuffle; the 100 TB fact⋈fact
    // strategy). The oracle is the plain join: identical results, different
    // physical plan.
    QueryDef("q51_bucketed_join",
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // suffix from the FULL fixture path: basename-only keying would let
      // two dirs sharing a name reuse each other's stale bucketed tables
      val suffix = math.abs(d.hashCode.toLong)
      val (liTbl, oTbl) = (s"li_bkt_$suffix", s"o_bkt_$suffix")
      BucketCatalog.ensure(s, liTbl, Tables.lineitem(s, d), "l_orderkey")
      BucketCatalog.ensure(s, oTbl, Tables.orders(s, d), "o_orderkey")
      s.table(liTbl).hint("merge")
        .join(s.table(oTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long")).as("revenue_cents"))
        .orderBy("o_orderpriority")
    },

    // Bucket pruning: an equality predicate on the bucket key scans ONLY the
    // matching bucket's files (SelectedBucketsCount 1/8, PlanSpec-asserted)
    // — the point-lookup path over the same catalog-managed bucketed table
    // q51 joins. The groupBy on the bucket key also needs no exchange: the
    // bucketed distribution already satisfies it. Oracle = plain filter.
    QueryDef("q99_bucket_prune",
      """SELECT l_orderkey, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM lineitem WHERE l_orderkey = 1
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      val liTbl = s"li_bkt_${math.abs(d.hashCode.toLong)}"
      BucketCatalog.ensure(s, liTbl, Tables.lineitem(s, d), "l_orderkey")
      s.table(liTbl).where(col("l_orderkey") === 1)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("price_cents"))
        .orderBy("l_orderkey")
    },

    // Salted skew join: deterministic salt fan-out on the probe side,
    // replicated build side — result must equal the plain join (oracle).
    QueryDef("q52_salted_skew_join",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val joined = SkewJoin.saltedInnerJoin(
        Tables.lineitem(s, d),
        Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        saltSource = col("l_linenumber"), salts = 4)
      joined.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_cents"))
        .orderBy("o_orderstatus")
    },

    // Bloom-prefilter semi join: the build side's keys are folded into an
    // O(bits) Bloom filter (treeAggregate partials), and the probe side is
    // prefiltered BEFORE its shuffle — rows that cannot join never enter the
    // exchange (operators/BloomPrefilter; the explicit form of Spark's
    // runtime bloom filter / Trino's dynamic filter). The oracle is the plain
    // IN-subquery semi join: false positives are cleaned up by the exact join
    // that follows, false negatives are impossible, so results are identical.
    QueryDef("q106_bloom_prefilter_join",
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val urgent = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
        .select("o_orderkey")
      BloomPrefilter.semiJoin(
          Tables.lineitem(s, d), col("l_orderkey"),
          urgent, col("o_orderkey"),
          expectedItems = 1L << 17)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long")).cast("long").as("revenue_cents"))
        .orderBy("l_returnflag")
    },

    // Small-file compaction roundtrip (operators/Compaction): the table is
    // first shattered into 64 task-sized files (what a streaming sink
    // leaves behind), then compacted into byte-targeted, range-clustered
    // files, and the aggregate runs over the COMPACTED copy while the
    // oracle reads the logical table directly — the q49 write→read fidelity
    // pattern applied to table maintenance. File-count/size/clustering
    // assertions live in the unit spec (an oracle can't see files).
    QueryDef("q130_compaction_roundtrip",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, d) =>
      import graft.operators.Compaction
      // keyed on the full fixture path — same isolation rule as q49
      val out = "/tmp/graft_compact_" + math.abs(d.hashCode.toLong)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/small")
      Compaction.compact(s, s"$out/small", s"$out/compacted",
        Seq(col("o_orderkey")), targetBytes = 1L << 19)
      s.read.parquet(s"$out/compacted")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long")
            .as("cents"))
        .orderBy("o_orderstatus")
    },

    // CDC snapshot merge (operators/Upsert — MERGE INTO as plain algebra):
    // a deterministic change batch derived from the base itself (two
    // competing update versions for keys ≡3 mod 10 — exercising last-wins
    // dedup — deletes for ≡7, fresh inserts at negated keys for ≡1) applied
    // as anti-join + union. The FULL merged snapshot is hash-compared, so
    // one wrong row version, one surviving delete, or one lost base row
    // fails the gate. Money stays in integer cents end to end.
    QueryDef("q131_cdc_merge",
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                     CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |              FROM orders),
        |ch AS (
        |  SELECT k, st, cents + 500 AS cents, 'U' AS op, 1 AS v
        |  FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, st, cents + 777, 'U', 2 FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, st, cents, 'D', 1 FROM base WHERE k % 10 = 7
        |  UNION ALL
        |  SELECT -k, 'N', k, 'U', 1 FROM base WHERE k % 10 = 1),
        |latest AS (SELECT k, st, cents, op FROM (
        |  SELECT ch.*, row_number() OVER (PARTITION BY k
        |    ORDER BY v DESC, op DESC) AS rn FROM ch) t WHERE rn = 1),
        |merged AS (
        |  SELECT b.k, b.st, b.cents FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = b.k)
        |  UNION ALL
        |  SELECT k, st, cents FROM latest WHERE op = 'U')
        |SELECT k AS o_orderkey, st AS o_orderstatus, cents
        |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.operators.Upsert
      val base = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      def slice(m: Int) = base.where(pmod(col("o_orderkey"), lit(10)) === m)
      val ch = slice(3)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("cents") + 500).as("cents"), lit("U").as("op"), lit(1).as("v"))
        .unionByName(slice(3)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("cents") + 777).as("cents"), lit("U").as("op"), lit(2).as("v")))
        .unionByName(slice(7)
          .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
            lit("D").as("op"), lit(1).as("v")))
        .unionByName(slice(1)
          .select((-col("o_orderkey")).as("o_orderkey"), lit("N").as("o_orderstatus"),
            col("o_orderkey").cast("long").as("cents"),
            lit("U").as("op"), lit(1).as("v")))
      val latest = Upsert.latestPerKey(ch, Seq("o_orderkey"), "v").drop("v")
      Upsert(base, latest, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // Time travel — Delta/Iceberg's AS OF, as algebra over a versioned
    // change log: base rows enter as version 0, three deterministic change
    // batches stack on top (v1 updates ≡3 / deletes ≡7 / inserts −k for
    // ≡1; v2 updates ≡5 and deletes/re-inserts mod-20 slices; v3
    // OVERRIDES v1's ≡3 update), and the snapshot AS OF v is one window:
    // per (asof, key) keep the highest-version op ≤ v, drop deletes. ALL
    // four historical snapshots come out of ONE plan — the log crosses a
    // broadcast 4-row version axis, so reconstruction cost is
    // O(versions · |log|), not versions × full merges. The fold_eq_window
    // column is the algebraic self-check: the iterative Upsert.apply chain
    // (v1 then v2 then v3 — how the log was actually written) must land on
    // EXACTLY the window formulation's v3 stats; TRUE is stated by the
    // oracle, so a divergence between the two merge semantics is a hash
    // mismatch. Money in integer cents end to end.
    QueryDef("q245_time_travel",
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                     CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                       AS cents
        |              FROM orders),
        |lg AS (
        |  SELECT k, st, cents, 'U' AS op, 0 AS v FROM base
        |  UNION ALL
        |  SELECT k, st, cents + 500, 'U', 1 FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, st, cents, 'D', 1 FROM base WHERE k % 10 = 7
        |  UNION ALL
        |  SELECT -k, 'N', k, 'U', 1 FROM base WHERE k % 10 = 1
        |  UNION ALL
        |  SELECT k, st, cents + 900, 'U', 2 FROM base WHERE k % 10 = 5
        |  UNION ALL
        |  SELECT -k, 'N', k, 'D', 2 FROM base WHERE k % 20 = 1
        |  UNION ALL
        |  SELECT k, 'R', 42, 'U', 2 FROM base WHERE k % 20 = 7
        |  UNION ALL
        |  SELECT k, st, cents + 1000, 'U', 3 FROM base WHERE k % 10 = 3),
        |ax AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS vnow),
        |snap AS (
        |  SELECT vnow, k, cents FROM (
        |    SELECT ax.vnow, l.k, l.cents, l.op,
        |           row_number() OVER (PARTITION BY ax.vnow, l.k
        |             ORDER BY l.v DESC, l.op DESC) AS rn
        |    FROM lg l JOIN ax ON l.v <= ax.vnow) t
        |  WHERE rn = 1 AND op = 'U')
        |SELECT vnow AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS fold_eq_window
        |FROM snap GROUP BY vnow ORDER BY version""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.Upsert
      val base = Tables.orders(s, d).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .persist() // feeds the log build and the iterative fold
      def m(mod: Int, r: Int) = base.where(pmod(col("k"), lit(mod)) === r)
      def b(rows: org.apache.spark.sql.DataFrame*) = rows.reduce(_ unionByName _)
      val b1 = b(
        m(10, 3).select(col("k"), col("st"), (col("cents") + 500).as("cents"),
          lit("U").as("op"), lit(1L).as("v")),
        m(10, 7).select(col("k"), col("st"), col("cents"),
          lit("D").as("op"), lit(1L).as("v")),
        m(10, 1).select((-col("k")).as("k"), lit("N").as("st"),
          col("k").cast("long").as("cents"), lit("U").as("op"), lit(1L).as("v")))
      val b2 = b(
        m(10, 5).select(col("k"), col("st"), (col("cents") + 900).as("cents"),
          lit("U").as("op"), lit(2L).as("v")),
        m(20, 1).select((-col("k")).as("k"), lit("N").as("st"),
          col("k").cast("long").as("cents"), lit("D").as("op"), lit(2L).as("v")),
        m(20, 7).select(col("k"), lit("R").as("st"), lit(42L).as("cents"),
          lit("U").as("op"), lit(2L).as("v")))
      val b3 = m(10, 3).select(col("k"), col("st"),
        (col("cents") + 1000).as("cents"), lit("U").as("op"), lit(3L).as("v"))
      val log = base
        .select(col("k"), col("st"), col("cents"), lit("U").as("op"),
          lit(0L).as("v"))
        .unionByName(b1).unionByName(b2).unionByName(b3)
      val ax = Seq(0L, 1L, 2L, 3L).toDF("vnow")
      val w = Window.partitionBy("vnow", "k")
        .orderBy(col("v").desc, col("op").desc)
      val snap = log.join(broadcast(ax), col("v") <= col("vnow"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("op") === "U")
      val windowed = snap.groupBy(col("vnow").as("version"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      // the iterative merge chain — the way the log was actually written
      val s3 = Seq(b1, b2, b3).foldLeft(base) { (acc, batch) =>
        Upsert(acc, Upsert.latestPerKey(batch, Seq("k"), "v").drop("v"),
          Seq("k"))
      }
      val foldStats = s3.agg(count(lit(1)).as("fn"),
        sum("cents").as("fs"))
      windowed.crossJoin(broadcast(foldStats))
        .select(col("version"), col("n_rows"), col("sum_cents"),
          (max(when(col("version") === 3,
            (col("n_rows") === col("fn")) && (col("sum_cents") === col("fs"))))
            .over(Window.partitionBy(lit(1))))
            .as("fold_eq_window"))
        .orderBy("version")
    },

    // CDC upsert-log COMPACTION (round 15) — the maintenance job every
    // log-structured table runs: the events fixture read as a CDC feed
    // (key = user_id, version = event_id — the commit sequence number; CDC
    // logs order by LSN, not event time — op = D for 'error' events, U
    // otherwise), compacted to its live snapshot with the accounting a
    // compaction job emits per key bucket: log rows, distinct keys,
    // superseded versions squashed, live rows, tombstoned keys, live value
    // cents. fold_eq_window is the q245 self-check: replaying the log as
    // FOUR LSN-range batches through the iterative Upsert.apply chain
    // (latestPerKey per batch — how an incremental compactor actually
    // runs) must land on exactly the one-shot window compaction's totals;
    // the oracle states TRUE, so a divergence between the two merge
    // semantics is a hash mismatch. Scale: the snapshot window partitions
    // by key (row-scale keys distribute); everything else is hash
    // aggregates; each replay batch's anti-join broadcasts when the delta
    // is small (the CDC norm — Upsert's scaladoc).
    QueryDef("q487_log_compaction",
      """WITH lg AS (
        |  SELECT user_id AS k, event_id AS v, event_type AS st,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |live AS (
        |  SELECT k, st, cents, op FROM (
        |    SELECT lg.*, row_number() OVER (PARTITION BY k
        |      ORDER BY v DESC, op DESC) AS rn FROM lg) t
        |  WHERE rn = 1),
        |rep AS (
        |  SELECT k % 8 AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_log,
        |         CAST(count(DISTINCT k) AS BIGINT) AS n_keys
        |  FROM lg GROUP BY 1),
        |lv AS (
        |  SELECT k % 8 AS bucket,
        |         CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_live,
        |         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_tombstoned,
        |         CAST(sum(CASE WHEN op = 'U' THEN cents ELSE 0 END)
        |              AS BIGINT) AS live_cents
        |  FROM live GROUP BY 1)
        |SELECT rep.bucket, rep.n_log, rep.n_keys,
        |       rep.n_log - rep.n_keys AS n_squashed,
        |       lv.n_live, lv.n_tombstoned, lv.live_cents,
        |       TRUE AS fold_eq_window
        |FROM rep JOIN lv USING (bucket) ORDER BY rep.bucket""".stripMargin) {
      (s, d) =>
      import graft.operators.Upsert
      val lg = Tables.events(s, d).select(
        col("user_id").as("k"), col("event_id").as("v"),
        col("event_type").as("st"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
        .persist() // the window compaction + the 4-batch replay share it
      val live = Upsert.latestPerKey(lg, Seq("k"), "v")
      val rep = lg.groupBy((col("k") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_log"), countDistinct("k").as("n_keys"))
      val lv = live.groupBy((col("k") % 8).as("bucket"))
        .agg(sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_tombstoned"),
          sum(when(col("op") === "U", col("cents")).otherwise(0L))
            .as("live_cents"))
      // the replay: 4 LSN-range batches through the iterative merge chain
      val mx = lg.agg(max("v").as("mv"))
        .select((expr("mv div 4") + 1L).as("wd"))
      val empty = lg.select("k", "st", "cents").where(lit(false))
      val s4 = (0L to 3L).foldLeft(empty) { (acc, i) =>
        val batch = lg.crossJoin(broadcast(mx))
          .where(expr("v div wd") === i)
          .select("k", "st", "cents", "op", "v")
        Upsert(acc, Upsert.latestPerKey(batch, Seq("k"), "v").drop("v"),
          Seq("k"))
      }
      val foldStats = s4.agg(count(lit(1)).as("fn"),
        coalesce(sum("cents"), lit(0L)).as("fs"))
      val winTot = live.where(col("op") === "U")
        .agg(count(lit(1)).as("wn"),
          coalesce(sum("cents"), lit(0L)).as("ws"))
      rep.join(lv, "bucket")
        .crossJoin(broadcast(foldStats)).crossJoin(broadcast(winTot))
        .select(col("bucket"), col("n_log"), col("n_keys"),
          (col("n_log") - col("n_keys")).as("n_squashed"),
          col("n_live"), col("n_tombstoned"), col("live_cents"),
          ((col("fn") === col("wn")) && (col("fs") === col("ws")))
            .as("fold_eq_window"))
        .orderBy("bucket")
    },

    // Running-peak / maximum-drawdown census (round 15) — the canonical
    // ROW-SCALE consumer of the prefix-EXTREMUM zip: the q304/q321/q390
    // migrations all run cumExtremum over value-domain-bounded censuses,
    // so this is the query that exercises it over a corpus-sized relation
    // (the whole point of the operator — a partition-less MAX window here
    // would park every ledger row on one task). The events fixture reads
    // as a signed settlement ledger (purchase credits, error debits,
    // exact cents) ordered by event_id; running balance is the prefix
    // SUM, running peak is the prefix MAX **of the balance** — a NESTED
    // zip (cumsum's output feeds cumExtremum's range partitioner, which
    // re-reads cumsum's range exchange — ScaleZip caches nothing) — and
    // drawdown = peak − balance is the peak-relative regression every
    // risk/ops dashboard alarms on. Reported per bounded event-id bucket (floor
    // width ⇒ ≤ ~511 rows, q485's grid posture): ledger rows, end-of-bucket balance
    // and peak (max_by on the unique order — deterministic), max
    // drawdown. Scale: two range-partition zips riding ONE total order +
    // one hash aggregate; all arithmetic in BIGINT cents.
    QueryDef("q488_running_drawdown", DrawdownSql.sql) { (s, d) =>
      import graft.operators.PrefixSum
      val ev = Tables.events(s, d)
      val led = ev.where(col("event_type").isin("purchase", "error"))
        .select(col("event_id"),
          when(col("event_type") === "purchase",
            round(col("value") * 100, 0).cast("long"))
            .otherwise(-round(col("value") * 100, 0).cast("long"))
            .as("cents"))
      val bal = PrefixSum.cumsum(led, Seq(col("event_id")), "cents",
        inclusive = true, sumName = "balance")
      val peak = PrefixSum.cumExtremum(bal, Seq(col("event_id")), "balance",
        isMax = true, inclusive = true, outName = "peak")
      val wd = ev.agg(greatest(lit(1L),
        expr("(max(event_id) + 1) div 256")).as("wd"))
      peak.crossJoin(broadcast(wd))
        .groupBy(expr("event_id div wd").as("bucket"))
        .agg(count(lit(1)).as("n_led"),
          expr("max_by(balance, event_id)").as("end_balance"),
          expr("max_by(peak, event_id)").as("end_peak"),
          max(col("peak") - col("balance")).as("max_drawdown"))
        .orderBy("bucket")
    },

    // STREAMING twin of q488 (round 15) — the drawdown monitor on the
    // serving path, which is how a peak-relative regression metric is
    // actually consumed (a live risk dashboard, not a nightly batch): the
    // ledger STREAMS in two event-id-ordered waves (stop after wave A,
    // resume the same checkpoint for wave B — the q476/q486 harness), and
    // each micro-batch extends real cross-batch state: the carried
    // end-of-history (balance, peak) scalars come from the previously
    // emitted grid rows (max_by over bucket — 2 longs of state, the O(1)
    // carry a running-sum/running-max decomposition admits because both
    // combines are associative), the batch runs the SAME nested
    // cumsum → cumExtremum zips as q488 offset by the carry, and grid
    // rows land in batchId-keyed overwrite dirs (a retried batch reads
    // only batches < its own id and overwrites its own partitions —
    // idempotent). Wave boundaries on bucket boundaries ⇒ every bucket
    // belongs to exactly one batch and streamed ≡ batch EXACTLY: the
    // oracle is q488's VERBATIM (shared DrawdownSql,
    // OracleHealthSpec-guarded).
    QueryDef("q489_stream_drawdown", DrawdownSql.sql) { (s, d) =>
      import graft.operators.PrefixSum
      import org.apache.spark.sql.types.{LongType, StructType}
      Scratch.run(s, "graft_dd_q_") { root =>
        val ev = Tables.events(s, d)
        // static domain (the ingest manifest — q483's posture): bucket
        // width and the wave boundary come from the corpus's stated
        // event-id domain, so waves split on a bucket boundary
        val mid = ev.agg(max("event_id")).head().getLong(0)
        val wd = math.max(1L, (mid + 1L) / 256L)
        val bkSplit = (mid / wd + 1L) / 2L
        val led = ev.where(col("event_type").isin("purchase", "error"))
          .select(col("event_id"),
            when(col("event_type") === "purchase",
              round(col("value") * 100, 0).cast("long"))
              .otherwise(-round(col("value") * 100, 0).cast("long"))
              .as("cents"))
        val gridSchema = new StructType()
          .add("bucket", LongType).add("n_led", LongType)
          .add("end_balance", LongType).add("end_peak", LongType)
          .add("max_drawdown", LongType)
        Drain.twoWaves(s"$root/landing",
            led.where(expr(s"event_id div ${wd}L") < bkSplit).coalesce(1),
            led.where(expr(s"event_id div ${wd}L") >= bkSplit).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType()
              .add("event_id", LongType).add("cents", LongType))
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$root/landing")
          Drain.toBatchDirs(stream, s"$root/out", s"$root/ckpt") { (batch0, bid) =>
            val f = new java.io.File(s"$root/out")
            val prior =
              if (f.isDirectory && f.listFiles != null
                  && f.listFiles.exists(_.getName.startsWith("batch=")))
                s.read.schema(gridSchema.add("batch", LongType))
                  .parquet(s"$root/out").where(col("batch") < bid)
              else s.createDataFrame(
                s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                gridSchema.add("batch", LongType))
            // 2 longs of carried state: end-of-history balance and peak
            val carry = prior.agg(
              coalesce(expr("max_by(end_balance, bucket)"), lit(0L))
                .as("pb"),
              coalesce(expr("max_by(end_peak, bucket)"),
                lit(Long.MinValue)).as("pp"))
            val bal = PrefixSum.cumsum(batch0, Seq(col("event_id")),
                "cents", inclusive = true, sumName = "lb")
              .crossJoin(broadcast(carry))
              .select(col("event_id"), col("pp"),
                (col("lb") + col("pb")).as("balance"))
            val peak = PrefixSum.cumExtremum(bal, Seq(col("event_id")),
                "balance", isMax = true, inclusive = true,
                outName = "cmx")
              .select(col("event_id"), col("balance"),
                greatest(col("cmx"), col("pp")).as("peak"))
            peak.groupBy(expr(s"event_id div ${wd}L").as("bucket"))
              .agg(count(lit(1)).as("n_led"),
                expr("max_by(balance, event_id)").as("end_balance"),
                expr("max_by(peak, event_id)").as("end_peak"),
                max(col("peak") - col("balance")).as("max_drawdown"))
          }
        }
        val res = s.read.parquet(s"$root/out")
          .select("bucket", "n_led", "end_balance", "end_peak",
            "max_drawdown")
          .orderBy("bucket")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
        res
      }
    },

    // Exact equi-depth (equal-frequency) histogram — q06/q90 bin by WIDTH;
    // this bins by RANK: bucket = (global_rank · k) div N over the total
    // order (value, unique key). The global rank comes from
    // GlobalRank.zipWithRank (q116's two-stage range-partition + zip), so
    // no unbounded-cardinality relation crosses a partition-less window —
    // the scale trap of the textbook ntile() formulation. The oracle states
    // plain row_number() (identical ranks — the order is total); bucket
    // assignment is pure integer arithmetic; per-bucket min/max pass
    // through untouched, so the boundary values hash-exactly. q96's
    // percentile_approx remains the one-pass approximate path; this is the
    // exact path when true quantile boundaries are required.
    QueryDef("q139_equidepth_hist",
      """WITH v AS (SELECT o_orderkey, o_totalprice FROM orders),
        |t AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT o_totalprice AS p,
        |             row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1
        |               AS rk
        |      FROM v)
        |SELECT CAST((rk * 10) // n AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(p) AS lo, max(p) AS hi
        |FROM r, t GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      import graft.operators.GlobalRank
      val v = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      val ranked = GlobalRank.zipWithRank(v,
        Seq(col("o_totalprice"), col("o_orderkey")), idName = "rk")
      val n = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .select(expr("(rk * 10) div n").as("bucket"), col("o_totalprice").as("p"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), min("p").as("lo"), max("p").as("hi"))
        .orderBy("bucket")
    },

    // Incremental aggregate-view maintenance: q131 merges CDC at ROW level;
    // this maintains a MATERIALIZED AGGREGATE under the same change stream
    // without touching the base relation — the aggregate-MV counterpart a
    // lakehouse needs when the base is 100 TB and the delta is megabytes.
    // Deletes (keys ≡ 0 mod 97) and updates (≡ 0 mod 89, quantity +5,
    // encoded delete+insert) become SIGNED delta rows; count and integer-
    // cents sum are abelian-group aggregates, so applying groupBy(sign·x) to
    // the delta and full-outer-merging with the stored per-group totals is
    // EXACT — no rescan of base. The output rows come from the INCREMENTAL
    // path; `eq_recompute` compares them in-plan against a full recompute of
    // the patched relation (the maintenance correctness contract), and the
    // oracle independently states the recompute — so a wrong signed merge
    // fails the hash twice over. Scale: cost is O(|delta|) + a k-group merge
    // join, vs O(|base|) for the rescan the operator replaces. (Min/max are
    // deliberately absent: they are not incrementally maintainable under
    // deletes without per-group state — that is q157's moments territory.)
    QueryDef("q185_incremental_agg",
      """WITH pat AS (
        |  SELECT l_returnflag AS f, l_linestatus AS st,
        |         CASE WHEN l_orderkey % 89 = 0 THEN l_quantity + 5
        |              ELSE l_quantity END AS q
        |  FROM lineitem WHERE l_orderkey % 97 <> 0)
        |SELECT f AS l_returnflag, st AS l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(q * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_qty_cents,
        |       TRUE AS eq_recompute
        |FROM pat GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_returnflag").as("f"), col("l_linestatus").as("st"),
        round(col("l_quantity") * 100, 0).cast("long").as("qc"))
      def agg(rows: org.apache.spark.sql.DataFrame) =
        rows.groupBy("f", "st")
          .agg(count(lit(1)).as("n"), sum("qc").as("s"))
      // the stored aggregate (built once; on a lake it would be read back)
      val stored = agg(li)
      // CDC delta as signed rows: delete = -1, insert = +1
      val del = li.where(col("k") % 97 === 0)
        .select(col("f"), col("st"), col("qc"), lit(-1L).as("sign"))
      val updOld = li.where(col("k") % 89 === 0 && col("k") % 97 =!= 0)
        .select(col("f"), col("st"), col("qc"), lit(-1L).as("sign"))
      val updNew = li.where(col("k") % 89 === 0 && col("k") % 97 =!= 0)
        .select(col("f"), col("st"), (col("qc") + 500L).as("qc"),
          lit(1L).as("sign"))
      val deltaAgg = del.unionByName(updOld).unionByName(updNew)
        .groupBy("f", "st")
        .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("qc")).as("ds"))
      val inc = stored.join(deltaAgg, Seq("f", "st"), "full_outer")
        .select(col("f"), col("st"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
        .where(col("n") > 0)
      // full recompute of the patched relation — the contract's other side
      val rec = agg(li.where(col("k") % 97 =!= 0)
          .select(col("f"), col("st"),
            when(col("k") % 89 === 0, col("qc") + 500L).otherwise(col("qc")).as("qc")))
        .withColumnsRenamed(Map("n" -> "rn", "s" -> "rs"))
      val mism = inc.join(rec, Seq("f", "st"), "full_outer")
        .where(!(col("n") <=> col("rn")) || !(col("s") <=> col("rs")))
        .agg(count(lit(1)).as("m"))
      inc.crossJoin(broadcast(mism))
        .select(col("f").as("l_returnflag"), col("st").as("l_linestatus"),
          col("n"), col("s").as("sum_qty_cents"),
          (col("m") === 0L).as("eq_recompute"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Exact top-k per group via the bounded-heap aggregate
    // (functions/TopK): the same answer as q64's rank-window formulation,
    // through a categorically cheaper plan — the window shuffles and SORTS
    // every row of every group; the heap aggregate keeps k entries per group
    // with MAP-SIDE partials, so the exchange carries ≤ k·groups rows and
    // nothing is globally sorted. The operator is exact, not a sketch: under
    // the total order (n_chars DESC, doc_id ASC) with unique doc_ids the
    // top-k set is independent of partitioning and merge order, which is
    // exactly why it can be hash-pinned against the oracle's row_number
    // window. This is THE idiom for "best k representatives per cluster /
    // per source" at 100 TB, where a rank window over the corpus is the
    // dominant sort.
    QueryDef("q186_topk_agg",
      """WITH r AS (SELECT source, doc_id, n_chars,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY n_chars DESC, doc_id) AS rn
        |           FROM documents)
        |SELECT source, CAST(rn AS BIGINT) AS rank, doc_id, n_chars
        |FROM r WHERE rn <= 5 ORDER BY source, rank""".stripMargin) { (s, d) =>
      import graft.functions.TopK
      Tables.documents(s, d)
        .groupBy("source")
        .agg(TopK.topKBy(col("doc_id"), col("n_chars"), 5).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("e.key").as("doc_id"), col("e.ord").as("n_chars"))
        .orderBy("source", "rank")
    },

    // Snapshot diff → CDC feed: the INVERSE of q131. Given two full table
    // snapshots (no change log — the common case when an upstream system
    // only ships replacements), derive the I/U/D change feed between them
    // with one full-outer join on the key: key only in old → D, only in new
    // → I, in both with different payload → U, identical rows vanish. The
    // new snapshot here is q131's merged result, so the derived feed must
    // RECOVER exactly the net effect of that change batch — diff ∘ apply =
    // identity on net changes, the round-trip contract that makes the pair
    // of operators trustworthy. Scale: one key-partitioned exchange per
    // side and a row-local compare — the cheapest correct way to re-derive
    // incrementality for 100 TB snapshots (and the input q185's aggregate
    // maintenance needs when no log exists).
    QueryDef("q188_snapshot_diff",
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                     CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |              FROM orders),
        |new_snap AS (
        |  SELECT k, st, cents + 777 AS cents FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, st, cents FROM base WHERE k % 10 NOT IN (3, 7)
        |  UNION ALL
        |  SELECT -k, 'N', k FROM base WHERE k % 10 = 1)
        |SELECT coalesce(o.k, n.k) AS k,
        |       CASE WHEN n.k IS NULL THEN 'D'
        |            WHEN o.k IS NULL THEN 'I' ELSE 'U' END AS op,
        |       o.cents AS old_cents, n.cents AS new_cents
        |FROM base o FULL OUTER JOIN new_snap n ON o.k = n.k
        |WHERE o.k IS NULL OR n.k IS NULL
        |   OR o.st <> n.st OR o.cents <> n.cents
        |ORDER BY k""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      // q131's merged snapshot, rebuilt directly: winner update for ≡3,
      // delete for ≡7, insert at negated keys for ≡1
      val newSnap = base.where(col("k") % 10 === 3)
          .select(col("k"), col("st"), (col("cents") + 777).as("cents"))
        .unionByName(base.where(!(col("k") % 10).isin(3, 7))
          .select(col("k"), col("st"), col("cents")))
        .unionByName(base.where(col("k") % 10 === 1)
          .select((-col("k")).as("k"), lit("N").as("st"),
            col("k").cast("long").as("cents")))
      val o = base.withColumnsRenamed(
        Map("k" -> "ok", "st" -> "ost", "cents" -> "old_cents"))
      val n = newSnap.withColumnsRenamed(
        Map("k" -> "nk", "st" -> "nst", "cents" -> "new_cents"))
      o.join(n, col("ok") === col("nk"), "full_outer")
        .where(col("ok").isNull || col("nk").isNull
          || col("ost") =!= col("nst") || col("old_cents") =!= col("new_cents"))
        .select(coalesce(col("ok"), col("nk")).as("k"),
          when(col("nk").isNull, "D").when(col("ok").isNull, "I")
            .otherwise("U").as("op"),
          col("old_cents"), col("new_cents"))
        .orderBy("k")
    },

    // Slowly-changing-dimension Type 2: a versioned change series per key
    // becomes validity INTERVALS — valid_from = effective day, valid_to =
    // day before the next version (open for the latest), is_current on the
    // last version. The classic warehouse dimension-history operator, done
    // the Spark-first way: one lead() window per key over (key, eff day),
    // integer day arithmetic end to end (the determinism playbook's
    // calendar rule). Three deterministic versions per tracked key are
    // derived from the order date itself so both engines build identical
    // change series. Scale: a single shuffle on the dimension key; dimension
    // tables are the SMALL side of a lakehouse — the operator exists so that
    // fact-table as-of joins (q56) have a correctly-bounded history to probe.
    QueryDef("q189_scd2",
      """WITH ch AS (
        |  SELECT o_orderkey AS k, v,
        |         CAST(epoch(o_orderdate) // 86400 AS BIGINT) + v * 30 AS eff_day,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) + v * 111 AS cents
        |  FROM orders, (SELECT unnest([0, 1, 2]) AS v)
        |  WHERE o_orderkey % 100 < 20),
        |iv AS (
        |  SELECT k, v, cents, eff_day AS valid_from,
        |         lead(eff_day) OVER (PARTITION BY k ORDER BY eff_day, v) - 1
        |           AS valid_to
        |  FROM ch)
        |SELECT k, CAST(v AS BIGINT) AS version, cents, valid_from,
        |       coalesce(valid_to, 9999999) AS valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM iv ORDER BY k, version""".stripMargin) { (s, d) =>
      val ch = Tables.orders(s, d)
        .where(col("o_orderkey") % 100 < 20)
        .select(col("o_orderkey").as("k"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("v"),
          col("o_orderdate"), col("o_totalprice"))
        .select(col("k"), col("v"),
          // o_orderdate ships as TIMESTAMP_NTZ; the UTC session makes the
          // cast an identity relabeling, then integer day arithmetic
          (expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            + col("v") * 30L).as("eff_day"),
          (round(col("o_totalprice") * 100, 0).cast("long") + col("v") * 111L)
            .as("cents"))
      val w = Window.partitionBy("k").orderBy("eff_day", "v")
      ch.withColumn("valid_to_raw", lead(col("eff_day"), 1).over(w) - 1)
        .select(col("k"), col("v").as("version"), col("cents"),
          col("eff_day").as("valid_from"),
          coalesce(col("valid_to_raw"), lit(9999999L)).as("valid_to"),
          col("valid_to_raw").isNull.as("is_current"))
        .orderBy("k", "version")
    },

    // Streaming CDC apply through foreachBatch — the Delta-style streaming
    // MERGE pattern, and the last major Structured Streaming surface the
    // catalog lacked: q131's change feed lands as a multi-file directory,
    // each micro-batch MERGEs into a versioned snapshot inside foreachBatch
    // (read current → last-wins dedup within the batch → VERSIONED upsert:
    // a change applies only when its version exceeds the row's stored
    // version → write snapshot N+1). The version guard is what makes the
    // merge ARRIVAL-ORDER independent: the feed's two competing updates per
    // ≡3-key may land in either micro-batch order and the final snapshot is
    // identical — so the streamed result must hash-equal q131's batch merge
    // exactly (same oracle), with `multi_batch` certifying the state really
    // crossed micro-batch boundaries. (Scope, stated: a version-guarded
    // merge without tombstones assumes a sane feed — no post-delete updates
    // with stale versions, true of CDC logs with monotone versions.) Scale:
    // per batch one key-partitioned merge join of delta against snapshot —
    // the rewrite-all MERGE plan; a table format would add file skipping.
    QueryDef("q194_stream_cdc_apply",
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                     CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |              FROM orders),
        |ch AS (
        |  SELECT k, st, cents + 500 AS cents, 'U' AS op, 1 AS v
        |  FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, st, cents + 777, 'U', 2 FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, st, cents, 'D', 1 FROM base WHERE k % 10 = 7
        |  UNION ALL
        |  SELECT -k, 'N', k, 'U', 1 FROM base WHERE k % 10 = 1),
        |latest AS (SELECT k, st, cents, op FROM (
        |  SELECT ch.*, row_number() OVER (PARTITION BY k
        |    ORDER BY v DESC, op DESC) AS rn FROM ch) t WHERE rn = 1),
        |merged AS (
        |  SELECT b.k, b.st, b.cents FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = b.k)
        |  UNION ALL
        |  SELECT k, st, cents FROM latest WHERE op = 'U')
        |SELECT k AS o_orderkey, st AS o_orderstatus, cents,
        |       TRUE AS multi_batch
        |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.operators.Upsert
      Scratch.run(s, "graft_cdc_stream_q_") { root =>
        val base = Tables.orders(s, d).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        def slice(m: Int) = base.where(pmod(col("k"), lit(10)) === m)
        val ch = slice(3)
            .select(col("k"), col("st"), (col("cents") + 500).as("cents"),
              lit("U").as("op"), lit(1).as("v"))
          .unionByName(slice(3)
            .select(col("k"), col("st"), (col("cents") + 777).as("cents"),
              lit("U").as("op"), lit(2).as("v")))
          .unionByName(slice(7)
            .select(col("k"), col("st"), col("cents"),
              lit("D").as("op"), lit(1).as("v")))
          .unionByName(slice(1)
            .select((-col("k")).as("k"), lit("N").as("st"),
              col("k").cast("long").as("cents"), lit("U").as("op"),
              lit(1).as("v")))
        ch.repartition(3).write.parquet(s"$root/landing")
        base.withColumn("v", lit(0)).write.parquet(s"$root/snap0")
        var curPath = s"$root/snap0"
        var batches = 0
        val schema = new org.apache.spark.sql.types.StructType()
          .add("k", org.apache.spark.sql.types.LongType)
          .add("st", org.apache.spark.sql.types.StringType)
          .add("cents", org.apache.spark.sql.types.LongType)
          .add("op", org.apache.spark.sql.types.StringType)
          .add("v", org.apache.spark.sql.types.IntegerType)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
        Drain.foreachBatch(stream, s"$root/ckpt") { (batch, id) =>
          val delta = Upsert.latestPerKey(batch, Seq("k"), "v")
            .withColumnsRenamed(Map("st" -> "nst", "cents" -> "ncents", "v" -> "nv"))
          val cur = s.read.parquet(curPath)
          val takeChange = col("nv").isNotNull &&
            (col("v").isNull || col("nv") > col("v"))
          val next = cur.join(delta, Seq("k"), "full_outer")
            .where(!(takeChange && col("op") === "D"))
            .select(col("k"),
              when(takeChange, col("nst")).otherwise(col("st")).as("st"),
              when(takeChange, col("ncents")).otherwise(col("cents")).as("cents"),
              when(takeChange, col("nv")).otherwise(col("v")).as("v"))
          val out = s"$root/snap${id + 1}"
          next.write.parquet(out)
          curPath = out
          batches += 1
        }
        s.read.parquet(curPath)
          .select(col("k").as("o_orderkey"), col("st").as("o_orderstatus"),
            col("cents"), lit(batches >= 2).as("multi_batch"))
          .orderBy("o_orderkey")
          // snapshot-sized result whose plan reads $root/snapN — materialize
          // so the tmpdir deletes at query exit (playbook #41) instead of
          // leaking a shutdown hook + orphaned dir per invocation
          .localCheckpoint()
      }
    },

    // ECDF / quantile-normalization transform: every TEST value maps to the
    // train split's empirical CDF, F_train(x) = #{train ≤ x} / n_train —
    // the rank-based feature transform (and the per-point generalization of
    // q193's three fitted quantiles). The scalable formulation is the
    // point: no per-row probe join, no corpus-sized window funnel. UNION
    // both splits under the total order (value, train-first, uid), then two
    // GlobalRank.zipWithRank passes (range-partition + per-partition zip —
    // the q116 machinery): rank in the union minus rank among test rows
    // alone = #{train rows at-or-before} EXACTLY, because train sorts
    // before test at equal values and the order is total. Two range
    // exchanges, whatever the corpus size; the oracle states the same
    // count with one running-sum window (fine single-node, the very funnel
    // the two-stage shape replaces). All integers to the final ppm.
    QueryDef("q195_ecdf_transform",
      s"""WITH u AS (
         |  SELECT o_orderkey AS k,
         |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
         |         1 AS istrain, o_orderkey * 2 + 1 AS uid
         |  FROM orders WHERE ${Split.assignSplitSql("o_orderkey", 21)} = 'train'
         |  UNION ALL
         |  SELECT o_orderkey,
         |         CAST(round(o_totalprice * 100, 0) AS BIGINT),
         |         0, o_orderkey * 2
         |  FROM orders WHERE ${Split.assignSplitSql("o_orderkey", 21)} = 'test'),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM u
         |      WHERE istrain = 1),
         |r AS (SELECT k, c, istrain,
         |        sum(istrain) OVER (ORDER BY c, istrain DESC, uid
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt
         |      FROM u)
         |SELECT k AS o_orderkey, c AS cents,
         |       CAST(cnt * 1000000 // n_train AS BIGINT) AS ecdf_ppm
         |FROM r, t WHERE istrain = 0 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.operators.GlobalRank
      val o = Tables.orders(s, d)
        .withColumn("split", Split.assignSplit(col("o_orderkey"), 21))
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("c"),
          when(col("split") === "train", 1L).when(col("split") === "test", 0L)
            .as("istrain"),
          (col("o_orderkey") * 2 + when(col("split") === "train", 1L)
            .otherwise(0L)).as("uid"))
        .where(col("istrain").isNotNull)
      val u = o.where(col("istrain").isin(0L, 1L))
      val nTrain = u.where(col("istrain") === 1L).agg(count(lit(1)).as("n_train"))
      val rAll = GlobalRank.zipWithRank(u,
        Seq(col("c"), col("istrain").desc, col("uid")), idName = "r_all")
      val test = rAll.where(col("istrain") === 0L)
      val rTest = GlobalRank.zipWithRank(test,
        Seq(col("c"), col("uid")), idName = "r_test")
      rTest.crossJoin(broadcast(nTrain))
        .select(col("k").as("o_orderkey"), col("c").as("cents"),
          expr("(r_all - r_test) * 1000000 div n_train").as("ecdf_ppm"))
        .orderBy("o_orderkey")
    },

    // File-skipping manifest audit — the Iceberg-style payoff of the q171
    // Hilbert layout, measured as data: points bucket into 16 "files" two
    // ways — by contiguous Hilbert-key range (each file is a CONNECTED 2-d
    // blob, so its min/max envelope is tight) and by hash (each "file"
    // spans the whole plane — every layout-agnostic lake's default). A
    // per-file min/max manifest is built for both, and a 65×65 box
    // predicate prunes against each: the Hilbert manifest skips most files,
    // the hash manifest can skip NONE — the measured difference IS the
    // argument for layout keys at 100 TB, where "files touched" is the
    // scan cost. `pruned_lossless` re-runs the filter over ONLY the
    // candidate files and matches the full-scan count, pinning that the
    // envelope-intersection logic never drops a row. Integer end to end;
    // the oracle replays the identical quadrant walk (Hilbert.keySql) and
    // manifest arithmetic.
    QueryDef("q202_file_skipping",
      s"""WITH pts AS MATERIALIZED (
         |  SELECT c_custkey AS id,
         |         (${graft.functions.Hashes.mulHashSql("c_custkey", 11)}) % 1000 AS x,
         |         (${graft.functions.Hashes.mulHashSql("c_custkey", 13)}) % 1000 AS y
         |  FROM customer),
         |hk AS MATERIALIZED (
         |  SELECT id, x, y, hval // 65536 AS hb,
         |         (${graft.functions.Hashes.mulHashSql("id", 17)}) % 16 AS rb
         |  FROM (${graft.operators.Hilbert.keySql(
                 from = "pts", carry = Seq("id", "x", "y"),
                 a = "x", b = "y", out = "hval", bits = 10)}) t),
         |manh AS MATERIALIZED (
         |  SELECT hb, min(x) AS xmin, max(x) AS xmax,
         |         min(y) AS ymin, max(y) AS ymax
         |  FROM hk GROUP BY hb),
         |manr AS MATERIALIZED (
         |  SELECT rb, min(x) AS xmin, max(x) AS xmax,
         |         min(y) AS ymin, max(y) AS ymax
         |  FROM hk GROUP BY rb),
         |ch AS (SELECT CAST(count(*) AS BIGINT) AS n FROM manh
         |       WHERE xmin <= 160 AND xmax >= 96 AND ymin <= 448 AND ymax >= 384),
         |cr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM manr
         |       WHERE xmin <= 160 AND xmax >= 96 AND ymin <= 448 AND ymax >= 384),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS nm FROM hk
         |       WHERE x BETWEEN 96 AND 160 AND y BETWEEN 384 AND 448),
         |pe AS (SELECT CAST(count(*) AS BIGINT) AS np FROM hk
         |       WHERE hb IN (SELECT hb FROM manh
         |                    WHERE xmin <= 160 AND xmax >= 96
         |                      AND ymin <= 448 AND ymax >= 384)
         |         AND x BETWEEN 96 AND 160 AND y BETWEEN 384 AND 448)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM manh) AS hilbert_files,
         |       ch.n AS hilbert_scanned,
         |       (SELECT CAST(count(*) AS BIGINT) FROM manr) AS random_files,
         |       cr.n AS random_scanned,
         |       mm.nm AS n_match, pe.np = mm.nm AS pruned_lossless
         |FROM ch, cr, mm, pe""".stripMargin) { (s, d) =>
      import graft.functions.Hashes
      import graft.operators.Hilbert
      val pts = Tables.customer(s, d).select(col("c_custkey").as("id"),
        (Hashes.mulHash(col("c_custkey"), 11) % 1000).as("x"),
        (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
      val hk = Hilbert.withKey(pts, col("x"), col("y"), "hval", bits = 10)
        .select(col("id"), col("x"), col("y"),
          expr("hval div 65536").as("hb"),
          (Hashes.mulHash(col("id"), 17) % 16).as("rb"))
        .persist() // feeds both manifests, the match count and the re-scan
      def manifest(bucket: String) = hk.groupBy(bucket)
        .agg(min("x").as("xmin"), max("x").as("xmax"),
          min("y").as("ymin"), max("y").as("ymax"))
      val inBox = col("x").between(96, 160) && col("y").between(384, 448)
      val hits = col("xmin") <= 160 && col("xmax") >= 96 &&
        col("ymin") <= 448 && col("ymax") >= 384
      val manH = manifest("hb").persist() // candidate filter + file count
      val manR = manifest("rb")
      val ch = manH.where(hits).agg(count(lit(1)).as("hilbert_scanned"))
      val cr = manR.where(hits).agg(count(lit(1)).as("random_scanned"))
      val nh = manH.agg(count(lit(1)).as("hilbert_files"))
      val nr = manR.agg(count(lit(1)).as("random_files"))
      val mm = hk.where(inBox).agg(count(lit(1)).as("n_match"))
      val pe = hk.join(manH.where(hits).select("hb"), Seq("hb"), "left_semi")
        .where(inBox).agg(count(lit(1)).as("np"))
      nh.crossJoin(broadcast(ch)).crossJoin(broadcast(nr))
        .crossJoin(broadcast(cr)).crossJoin(broadcast(mm))
        .crossJoin(broadcast(pe))
        .select(col("hilbert_files"), col("hilbert_scanned"),
          col("random_files"), col("random_scanned"), col("n_match"),
          (col("np") === col("n_match")).as("pruned_lossless"))
    },

    // Per-group least-squares regression from exact integer moment sums —
    // what `regr_slope`/`regr_intercept` compute, re-derived the playbook
    // way: the builtins accumulate FLOAT partials whose merge order is
    // nondeterministic across partitionings, while here x and y quantize to
    // integer cents once and the five sufficient statistics (n, Σx, Σy,
    // Σxy, Σx²) are exact integer sums — one map-side-combined aggregate,
    // mergeable in any order, bit-identical on any engine. slope and
    // intercept then come from ONE stated double expression over those
    // integers (the q18 discipline applied to the classic closed form).
    // Sufficient-statistics regression is also the 100 TB shape: the model
    // fit costs the same single pass as a count.
    QueryDef("q203_grouped_regression",
      """WITH q AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x * y) AS HUGEINT) AS sxy,
        |             CAST(sum(x * x) AS HUGEINT) AS sxx
        |      FROM q GROUP BY flag)
        |SELECT flag, n,
        |       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
        |         AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |                * sx) / n, 6) AS intercept
        |FROM m ORDER BY flag""".stripMargin) { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val q = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        round(col("l_quantity") * 100, 0).cast("long").as("x"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
      // x·y ≈ 5e3·1.0e7 cents² ≈ 5e10 per row — row products fit long, but
      // the SUMS need 128-bit headroom at scale: decimal(38,0) here, the
      // oracle's HUGEINT there, both exact
      val m = q.groupBy("flag").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
        (nD * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      m.select(col("flag"), col("n"), round(slope, 6).as("slope"),
          round((col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n"), 6).as("intercept"))
        .orderBy("flag")
    },

    // Item co-occurrence mining — the "bought together" census at the heart
    // of co-occurrence recommenders: parts appearing on the same order,
    // counted across orders, minimum support 2, top-20 by (count DESC,
    // pair). The scale discipline is the basket SELF-JOIN: its fan-out is
    // Σ b_i² over basket sizes — bounded here because order baskets are
    // naturally small (≤ 7 lines), and the operator states that bound
    // instead of hiding it (a pathological mega-basket needs a per-basket
    // cap first, exactly like SemDedup's cluster cap; the shuffle key is
    // the basket id, so the join never leaves the order's partition).
    // Exact integer counts end to end.
    QueryDef("q205_item_cooccurrence",
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        |            FROM lineitem),
        |pairs AS (
        |  SELECT a.p AS part_a, b.p AS part_b
        |  FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        |c AS (SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
        |      FROM pairs GROUP BY part_a, part_b)
        |SELECT part_a, part_b, n_orders
        |FROM c WHERE n_orders >= 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
        .distinct()
      li.as("a").join(li.as("b"),
          col("a.k") === col("b.k") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("part_a"), col("b.p").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .where(col("n_orders") >= 2)
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    },

    // Point-in-time (PIT) join against the SCD2 dimension — the feature-
    // store correctness op: every fact probe must see the dimension version
    // that was VALID AT ITS OWN TIMESTAMP, never a later one (the classic
    // training-serving leak). Facts probe q189's versioned intervals at
    // eff_day0 + 45 — squarely inside version 1's validity — via an
    // equi-join on the key plus the interval predicate, so each probe
    // matches EXACTLY ONE version by construction (the intervals partition
    // the day line). Joining on the key first bounds the per-key interval
    // scan at the version count — the 100 TB shape (q56's as-of join is the
    // union-window alternative when the dimension is too hot to join).
    QueryDef("q209_pit_join",
      """WITH ch AS (
        |  SELECT o_orderkey AS k, v,
        |         CAST(epoch(o_orderdate) // 86400 AS BIGINT) + v * 30 AS eff_day,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) + v * 111 AS cents
        |  FROM orders, (SELECT unnest([0, 1, 2]) AS v)
        |  WHERE o_orderkey % 100 < 20),
        |iv AS (
        |  SELECT k, v, cents, eff_day AS valid_from,
        |         coalesce(lead(eff_day) OVER (PARTITION BY k
        |           ORDER BY eff_day, v) - 1, 9999999) AS valid_to
        |  FROM ch),
        |probe AS (
        |  SELECT o_orderkey AS k,
        |         CAST(epoch(o_orderdate) // 86400 AS BIGINT) + 45 AS probe_day
        |  FROM orders WHERE o_orderkey % 100 < 20)
        |SELECT p.k, p.probe_day, CAST(iv.v AS BIGINT) AS version, iv.cents
        |FROM probe p JOIN iv ON iv.k = p.k
        | AND p.probe_day BETWEEN iv.valid_from AND iv.valid_to
        |ORDER BY p.k""".stripMargin) { (s, d) =>
      val dayCol = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
      val base = Tables.orders(s, d).where(col("o_orderkey") % 100 < 20)
      val ch = base
        .select(col("o_orderkey").as("k"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("v"),
          dayCol.as("day0"),
          round(col("o_totalprice") * 100, 0).cast("long").as("c0"))
        .select(col("k"), col("v"), (col("day0") + col("v") * 30L).as("eff_day"),
          (col("c0") + col("v") * 111L).as("cents"))
      val w = Window.partitionBy("k").orderBy("eff_day", "v")
      val iv = ch.withColumn("valid_to",
          coalesce(lead(col("eff_day"), 1).over(w) - 1, lit(9999999L)))
        .withColumnRenamed("eff_day", "valid_from")
      val probe = base.select(col("o_orderkey").as("pk"),
        (dayCol + 45L).as("probe_day"))
      probe.join(iv, col("pk") === col("k")
          && col("probe_day").between(col("valid_from"), col("valid_to")))
        .select(col("k"), col("probe_day"), col("v").as("version"), col("cents"))
        .orderBy("k")
    },

    // Robust outlier audit by median absolute deviation — q193's robust
    // statistics turned into the detection op: a value is anomalous when
    // |x − median| exceeds 5·MAD, the estimator that survives the very
    // outliers a mean/stddev rule is dragged by. Two exact-percentile
    // passes (median, then median of absolute deviations — the q58-proven
    // quantile parity), deviations in exact integer-cents-vs-double
    // arithmetic stated identically on both engines, counts exact. Scale:
    // the percentiles are the sort-shaped cost (per group), everything else
    // is a scan.
    QueryDef("q215_mad_outliers",
      """WITH q AS (SELECT l_returnflag AS f,
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x
        |           FROM lineitem),
        |m AS (SELECT f, quantile_cont(x, 0.5) AS med FROM q GROUP BY f),
        |dev AS (SELECT q.f, x, abs(x - med) AS ad FROM q JOIN m USING (f)),
        |md AS (SELECT f, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY f),
        |o AS (SELECT dev.f,
        |        CAST(count(CASE WHEN ad > 5 * mad THEN 1 END) AS BIGINT)
        |          AS n_outliers,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM dev JOIN md USING (f) GROUP BY dev.f)
        |SELECT o.f AS l_returnflag, o.n, round(m.med, 6) AS med,
        |       round(md.mad, 6) AS mad, o.n_outliers
        |FROM o JOIN m ON m.f = o.f JOIN md ON md.f = o.f
        |ORDER BY 1""".stripMargin) { (s, d) =>
      val q = Tables.lineitem(s, d).select(col("l_returnflag").as("f"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("x"))
      val m = q.groupBy("f").agg(expr("percentile(x, 0.5)").as("med"))
      val dev = q.join(m, "f")
        .select(col("f"), col("x"), abs(col("x") - col("med")).as("ad"))
      val md = dev.groupBy("f").agg(expr("percentile(ad, 0.5)").as("mad"))
      val o = dev.join(md, "f").groupBy("f")
        .agg(count(when(col("ad") > lit(5) * col("mad"), 1)).as("n_outliers"),
          count(lit(1)).as("n"))
      o.join(m, "f").join(md, "f")
        .select(col("f").as("l_returnflag"), col("n"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("n_outliers"))
        .orderBy("l_returnflag")
    },

    // Key-skew diagnostic — the audit a pipeline runs on a join/groupBy key
    // BEFORE committing to a plan, and the quantitative motivation for
    // q52's salted join and AQE skew handling: group-size distribution of
    // the key (count census), its extremes and percentiles, the hottest
    // key's share of all rows, and max-over-average — the number that says
    // "one reducer gets N× the median task". Everything except the two
    // reported percentiles is exact integer arithmetic; the census is one
    // map-side-combined pass and the stats run over the GROUP-SIZE relation
    // (one row per key — at 100 TB that's where the exact percentile's
    // sort cost lives; percentile_approx (q96) is the stated fallback).
    QueryDef("q219_skew_report",
      """WITH c AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS sz
        |           FROM lineitem GROUP BY l_orderkey)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(max(sz) AS BIGINT) AS max_group,
        |       round(quantile_cont(sz, 0.5), 6) AS p50_group,
        |       round(quantile_cont(sz, 0.99), 6) AS p99_group,
        |       CAST(max(sz) * 1000000 // sum(sz) AS BIGINT) AS top1_share_ppm,
        |       CAST(max(sz) * count(*) * 100 // sum(sz) AS BIGINT)
        |         AS max_over_avg_x100
        |FROM c""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("sz"))
        .agg(sum("sz").as("n_rows"), count(lit(1)).as("n_keys"),
          max("sz").as("max_group"),
          round(expr("percentile(sz, 0.5)"), 6).as("p50_group"),
          round(expr("percentile(sz, 0.99)"), 6).as("p99_group"))
        .select(col("n_rows"), col("n_keys"), col("max_group"),
          col("p50_group"), col("p99_group"),
          expr("max_group * 1000000 div n_rows").as("top1_share_ppm"),
          expr("max_group * n_keys * 100 div n_rows").as("max_over_avg_x100"))
    },

    // Bloom-filter false-positive-rate audit — measuring the one number
    // q106's prefilter design depends on: probe the built filter with keys
    // PROVABLY not in the build set (true negatives, an exact anti-join
    // both engines state) and compare the measured hit rate against the
    // configured fpp. Sketch bits aren't cross-engine replayable (the q54
    // rule), so the statable contract is the bound: measured FPR ≤ 3×
    // configured (a ≥4σ allowance at this probe count) — `within_bound`
    // flips the hash if Spark's filter ever degrades. Build/probe set
    // SIZES are exact oracle-replayable integers.
    QueryDef("q224_bloom_fpr",
      """WITH build AS (SELECT DISTINCT o_orderkey FROM orders
        |               WHERE o_orderpriority = '1-URGENT'
        |                 AND o_totalprice > 150000),
        |probes AS (SELECT DISTINCT o_orderkey FROM orders
        |           WHERE NOT EXISTS (SELECT 1 FROM build b
        |                             WHERE b.o_orderkey = orders.o_orderkey))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build,
        |       (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
        |       TRUE AS within_bound""".stripMargin) { (s, d) =>
      import graft.operators.BloomPrefilter
      val orders = Tables.orders(s, d)
      val build = orders
        .where(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
        .select(col("o_orderkey")).distinct()
      val probes = orders.select(col("o_orderkey")).distinct()
        .join(build, Seq("o_orderkey"), "left_anti")
        .persist() // counted twice: raw and filter-surviving
      val bf = BloomPrefilter.serialize(
        BloomPrefilter.buildFilter(build, expectedItems = 1L << 17, fpp = 0.01))
      val fp = probes.where(BloomPrefilter.mightContain(bf, col("o_orderkey")))
        .agg(count(lit(1)).as("fp_hits"))
      val nB = build.agg(count(lit(1)).as("n_build"))
      val nP = probes.agg(count(lit(1)).as("n_probes"))
      nB.crossJoin(broadcast(nP)).crossJoin(broadcast(fp))
        .select(col("n_build"), col("n_probes"),
          (col("fp_hits").cast("double")
            <= lit(0.03) * col("n_probes")).as("within_bound"))
    },

    // Association rules — q205 stops at co-occurrence counts; the curation
    // decision needs DIRECTED rules graded by confidence (P(b|a)) and lift
    // (observed co-rate over independence). Same bounded basket self-join
    // as q205 (fan-out Σ b_i², baskets ≤ 7 lines, shuffle keyed by basket
    // id), then each undirected pair emits both rule directions joined
    // against the broadcast-sized item-support census. All ratios are ppm
    // integer divisions; the lift numerator is 128-bit (decimal(38,0) /
    // HUGEINT) because n_ab · N · 1e6 overflows BIGINT at corpus scale —
    // the same headroom posture as the regression moments. Min support 2,
    // top-20 by (lift DESC, confidence DESC, antecedent, consequent).
    QueryDef("q305_assoc_rules",
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        |            FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS baskets FROM li),
        |item AS (SELECT p, CAST(count(*) AS BIGINT) AS n_item
        |         FROM li GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM li a JOIN li b ON a.k = b.k AND a.p < b.p
        |  GROUP BY a.p, b.p),
        |rules AS (
        |  SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
        |  UNION ALL
        |  SELECT pb, pa, n_ab FROM pairs)
        |SELECT r.antecedent, r.consequent, r.n_ab AS support,
        |       CAST(r.n_ab * 1000000 // ia.n_item AS BIGINT) AS conf_ppm,
        |       CAST(CAST(r.n_ab AS HUGEINT) * n.baskets * 1000000
        |            // (ia.n_item * ic.n_item) AS BIGINT) AS lift_ppm
        |FROM rules r
        |JOIN item ia ON ia.p = r.antecedent
        |JOIN item ic ON ic.p = r.consequent
        |CROSS JOIN n
        |WHERE r.n_ab >= 2
        |ORDER BY lift_ppm DESC, conf_ppm DESC, antecedent, consequent
        |LIMIT 20""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
        .distinct()
        .persist() // basket census + pair join share it
      val n = li.select(countDistinct("k").as("baskets"))
      val item = li.groupBy("p").agg(count(lit(1)).as("n_item"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.k") === col("b.k") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("n_ab"))
      val rules = pairs.select(col("pa").as("antecedent"),
          col("pb").as("consequent"), col("n_ab"))
        .unionByName(pairs.select(col("pb").as("antecedent"),
          col("pa").as("consequent"), col("n_ab")))
      rules
        .join(broadcast(item.select(col("p"), col("n_item").as("n_a"))),
          col("antecedent") === col("p")).drop("p")
        .join(broadcast(item.select(col("p"), col("n_item").as("n_c"))),
          col("consequent") === col("p")).drop("p")
        .crossJoin(broadcast(n))
        .where(col("n_ab") >= 2)
        .select(col("antecedent"), col("consequent"),
          col("n_ab").as("support"),
          expr("n_ab * 1000000 div n_a").as("conf_ppm"),
          expr("CAST(n_ab AS DECIMAL(38,0)) * baskets * 1000000" +
            " div (CAST(n_a AS DECIMAL(38,0)) * n_c)")
            .cast("long").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
          col("antecedent"), col("consequent"))
        .limit(20)
    },

    // Rendezvous (highest-random-weight) sharding — how a 100 TB corpus
    // actually gets laid out across storage/index shards (Thaler &
    // Ravishankar 1998, the consistent-hashing alternative with no ring
    // state): each key goes to the shard with the max hash(key, shard).
    // The property this query MEASURES is elastic rebalance: adding a
    // 9th shard moves ~1/9 of keys under rendezvous (only those whose new
    // shard wins) vs ~8/9 under naive `key % N` (almost everything
    // reshuffles — a full-corpus rewrite at every resize). Shape: the
    // 9-shard weight table is a constant-factor explode of the key set
    // (the q13 union posture), argmax per key is a 9-row window — no
    // joins, no data-sized windows.
    QueryDef("q325_rendezvous_shard", {
      import graft.functions.Hashes
      s"""WITH w AS (
         |  SELECT doc_id, sh,
         |         ${Hashes.mulHashSql("doc_id * 64 + sh", 17)} AS wt
         |  FROM documents, (SELECT unnest(range(0, 9)) AS sh)),
         |a8 AS (
         |  SELECT doc_id, sh AS shard8 FROM (
         |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY wt DESC, sh) AS rn
         |    FROM w WHERE sh < 8) t WHERE rn = 1),
         |a9 AS (
         |  SELECT doc_id, sh AS shard9 FROM (
         |    SELECT doc_id, sh, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY wt DESC, sh) AS rn
         |    FROM w) t WHERE rn = 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(CASE WHEN a8.doc_id % 8 <> a8.doc_id % 9
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS moved_naive,
         |       CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS moved_rendezvous,
         |       CAST(sum(CASE WHEN a8.doc_id % 8 <> a8.doc_id % 9
         |                THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*)
         |         AS naive_ppm,
         |       CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
         |         AS BIGINT) * 1000000 // count(*) AS rendezvous_ppm
         |FROM a8 JOIN a9 USING (doc_id)""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val w = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("sh", explode(sequence(lit(0L), lit(8L))))
        .withColumn("wt", Hashes.mulHash(col("doc_id") * 64 + col("sh"), 17))
      def assign(ww: org.apache.spark.sql.DataFrame, name: String) = ww
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("wt").desc, col("sh"))))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("sh").as(name))
      assign(w.where(col("sh") < 8), "shard8")
        .join(assign(w, "shard9"), "doc_id")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("doc_id") % 8 =!= col("doc_id") % 9, 1L)
            .otherwise(0L)).as("moved_naive"),
          sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
            .as("moved_rendezvous"),
          expr("sum(CASE WHEN doc_id % 8 <> doc_id % 9 THEN 1 ELSE 0 END)" +
            " * 1000000 div count(*)").as("naive_ppm"),
          expr("sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)" +
            " * 1000000 div count(*)").as("rendezvous_ppm"))
    },

    // KMV distinct sketch — the k-minimum-values estimator (Bar-Yossef et
    // al. 2002) as a Dataset-typed Aggregator (functions/KmvSketch): keep
    // the 256 smallest distinct key hashes per group, estimate distincts
    // as (k−1)·P/h_k. Next to q54's HLL this is the sketch whose STATE is
    // inspectable and oracle-exact: the k minima are a pure function of
    // the input set, so DuckDB replays the identical array via a window
    // over distinct hashes and the hash-equality check covers the sketch
    // content itself, not just the estimate. Scale shape: map-side
    // partials forward ≤ k longs per group (the TopK exchange posture);
    // the udaf path also keeps Spark's PUBLIC custom-aggregate API
    // exercised next to TopK's catalyst-internal TypedImperativeAggregate.
    QueryDef("q332_kmv_distinct", {
      import graft.functions.Hashes
      s"""WITH h AS (
         |  SELECT l_returnflag AS flag,
         |         ${Hashes.mulHashSql("l_orderkey", 71)} AS hv
         |  FROM lineitem),
         |dh AS (SELECT DISTINCT flag, hv FROM h),
         |r AS (
         |  SELECT flag, hv,
         |         row_number() OVER (PARTITION BY flag ORDER BY hv) AS rn,
         |         count(*) OVER (PARTITION BY flag) AS nd
         |  FROM dh),
         |mins AS (
         |  SELECT flag, list(hv ORDER BY hv) AS kmins, max(nd) AS n_exact
         |  FROM r WHERE rn <= 256 GROUP BY flag)
         |SELECT flag, CAST(len(kmins) AS BIGINT) AS k_held,
         |       CAST(kmins[len(kmins)] AS BIGINT) AS h_k,
         |       CAST(n_exact AS BIGINT) AS n_exact,
         |       CASE WHEN len(kmins) < 256 THEN CAST(len(kmins) AS BIGINT)
         |            ELSE CAST(255 AS BIGINT) * ${Hashes.Prime} // kmins[len(kmins)]
         |       END AS kmv_est,
         |       abs(CASE WHEN len(kmins) < 256 THEN CAST(len(kmins) AS BIGINT)
         |                ELSE CAST(255 AS BIGINT) * ${Hashes.Prime} // kmins[len(kmins)]
         |           END - n_exact) * 1000000 // n_exact AS err_ppm,
         |       CAST(kmins[1] AS BIGINT) AS h_1,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), kmins),
         |                        (a, b) -> a + b) AS BIGINT) AS kmins_sum
         |FROM mins ORDER BY flag""".stripMargin
    }) { (s, d) =>
      import graft.functions.{Hashes, KmvSketch}
      val kmvAgg = KmvSketch.kmv(256)
      val h = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        Hashes.mulHash(col("l_orderkey"), 71).as("hv"))
      val g = h.groupBy("flag").agg(kmvAgg(col("hv")).as("kmins"),
        countDistinct("hv").as("n_exact"))
      val est = when(size(col("kmins")) < 256,
        size(col("kmins")).cast("long"))
        .otherwise(expr(s"255 * ${Hashes.Prime}L div element_at(kmins, 256)"))
      g.select(col("flag"), size(col("kmins")).cast("long").as("k_held"),
          element_at(col("kmins"), size(col("kmins"))).as("h_k"),
          col("n_exact"), est.as("kmv_est"),
          (abs(est - col("n_exact")) * 1000000 / col("n_exact"))
            .cast("long").as("err_ppm"),
          element_at(col("kmins"), 1).as("h_1"),
          aggregate(col("kmins"), lit(0L), (a, x) => a + x).as("kmins_sum"))
        .orderBy("flag")
    },

    // Exact median by VALUE-DOMAIN BISECTION — the selection algorithm
    // that finds an exact order statistic with ZERO exchanges: q58's
    // exact percentile pays a global sort shuffle and q96's sketch gives
    // up exactness; this runs ~log₂(value range) map-side count passes
    // (count(x ≤ mid) needs no shuffle at all — partial counts merge at
    // the driver), halving the candidate interval until it pins the
    // ⌈(n+1)/2⌉-th smallest cent value. On a cached 100 TB relation this
    // is THE exact-median plan: 24 scans that never move a row beat one
    // full-corpus sort exchange. The loop census is one BIGINT per round
    // (the scaler posture); the oracle states the same order statistic
    // positionally.
    QueryDef("q335_median_bisect",
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x
        |  FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM v),
        |k AS (SELECT n_rows, (n_rows + 1) // 2 AS kth FROM n),
        |med AS (
        |  SELECT x AS median_cents FROM v
        |  ORDER BY x LIMIT 1 OFFSET (SELECT kth - 1 FROM k))
        |SELECT k.n_rows, k.kth, med.median_cents,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v
        |        WHERE x <= med.median_cents) AS n_le_median
        |FROM k, med""".stripMargin) { (s, d) =>
      val v = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100, 0).cast("long").as("x"))
        .persist() // one scan per bisection round
      val bounds = v.agg(count(lit(1)).as("n"), min("x").as("lo"),
        max("x").as("hi")).head()
      val nRows = bounds.getLong(0)
      val kth = (nRows + 1) / 2
      var lo = bounds.getLong(1)
      var hi = bounds.getLong(2)
      // invariant: count(x <= lo - 1) < kth <= count(x <= hi)
      while (lo < hi) {
        val mid = lo + (hi - lo) / 2
        val c = v.where(col("x") <= mid).count()
        if (c >= kth) hi = mid else lo = mid + 1
      }
      val median = lo
      val nLe = v.where(col("x") <= median).count()
      import s.implicits._
      Seq((nRows, kth, median, nLe))
        .toDF("n_rows", "kth", "median_cents", "n_le_median")
    },

    // Join-cardinality estimation from KMV sketches (Beyer et al.,
    // SIGMOD 2007) — the PLANNER's question answered without running the
    // join: two k=128 sketches of the (hashed) join-key domains, the
    // union sketch is the bottom-k of the merged minima, Ĵ = |union
    // elements present in BOTH side sketches|/k, and the distinct-key
    // intersection estimate is Ĵ·D̂(A∪B). Everything after the two
    // census aggregates is arithmetic on two 128-long arrays in ONE row
    // (array_union/sort/slice/filter — no shuffle); the exact
    // intersection is computed alongside as the truth twin and the error
    // is reported in ppm. At 100 TB this is the shape that decides
    // broadcast-vs-shuffle before paying for either: two map-side
    // sketch passes, never a key exchange.
    QueryDef("q389_kmv_join_card", {
      import graft.functions.Hashes
      s"""WITH a AS (SELECT DISTINCT ${Hashes.mulHashSql("o_custkey", 71)}
         |             AS hv FROM orders),
         |b AS (SELECT DISTINCT ${Hashes.mulHashSql("c_custkey", 71)} AS hv
         |      FROM customer WHERE c_acctbal > 0),
         |ka AS (SELECT hv FROM a ORDER BY hv LIMIT 128),
         |kb AS (SELECT hv FROM b ORDER BY hv LIMIT 128),
         |un AS (SELECT hv FROM (SELECT hv FROM ka UNION
         |                       SELECT hv FROM kb) u
         |       ORDER BY hv LIMIT 128),
         |ku AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |              CAST(max(hv) AS BIGINT) AS hk FROM un),
         |lo AS (SELECT CAST(count(*) AS BIGINT) AS l FROM un
         |       WHERE hv IN (SELECT hv FROM ka)
         |         AND hv IN (SELECT hv FROM kb)),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM a
         |       WHERE hv IN (SELECT hv FROM b)),
         |eu AS (SELECT CASE WHEN k < 128 THEN k
         |              ELSE CAST(127 AS BIGINT) * ${Hashes.Prime} // hk
         |              END AS est_union, k, hk FROM ku)
         |SELECT eu.k AS k_union, eu.hk AS hk_union, lo.l AS l_overlap,
         |       CAST(eu.est_union AS BIGINT) AS est_union,
         |       CAST(lo.l * eu.est_union // eu.k AS BIGINT) AS est_inter,
         |       ex.exact_inter,
         |       CAST(abs(lo.l * eu.est_union // eu.k - ex.exact_inter)
         |            * 1000000 // greatest(ex.exact_inter, 1) AS BIGINT)
         |         AS err_ppm
         |FROM eu, lo, ex""".stripMargin
    }) { (s, d) =>
      import graft.functions.{Hashes, KmvSketch}
      val a = Tables.orders(s, d)
        .select(Hashes.mulHash(col("o_custkey"), 71).as("hv")).distinct()
        .persist() // sketch + exact-truth sides
      val b = Tables.customer(s, d).where(col("c_acctbal") > 0)
        .select(Hashes.mulHash(col("c_custkey"), 71).as("hv")).distinct()
        .persist()
      val kmv = KmvSketch.kmv(128)
      val ska = a.agg(kmv(col("hv")).as("ka"))
      val skb = b.agg(kmv(col("hv")).as("kb"))
      val ex = a.join(b, Seq("hv"), "left_semi")
        .agg(count(lit(1)).as("exact_inter"))
      ska.crossJoin(broadcast(skb)).crossJoin(broadcast(ex))
        .select(col("ka"), col("kb"), col("exact_inter"),
          slice(array_sort(array_union(col("ka"), col("kb"))), 1, 128)
            .as("un"))
        .select(col("exact_inter"),
          size(col("un")).cast("long").as("k_union"),
          element_at(col("un"), size(col("un"))).as("hk_union"),
          size(filter(col("un"), x =>
            array_contains(col("ka"), x) && array_contains(col("kb"), x)))
            .cast("long").as("l_overlap"),
          col("un"))
        .select(col("k_union"), col("hk_union"), col("l_overlap"),
          when(col("k_union") < 128, col("k_union"))
            .otherwise(expr(s"127 * ${Hashes.Prime}L div hk_union"))
            .as("est_union"),
          col("exact_inter"))
        .select(col("k_union"), col("hk_union"), col("l_overlap"),
          col("est_union"),
          expr("l_overlap * est_union div k_union").as("est_inter"),
          col("exact_inter"),
          expr("""abs(l_overlap * est_union div k_union - exact_inter)
                 |* 1000000 div greatest(exact_inter, 1L)"""
            .stripMargin.replace("\n", " ")).as("err_ppm"))
    },

    // Mergeable quantile sketch — the sketch family's missing member (the
    // r8 verdict's Missing #5): bottom-k rank sampling (Cohen & Kaplan
    // 2007) as functions/QuantileSketch, the k = 1024 smallest-row-hash
    // (hash, value) pairs per group. Unlike KLL/t-digest, whose state
    // depends on merge ORDER (unpinnable by a hash oracle), the bottom-k
    // sample is a pure function of the input multiset — so the sketch
    // content is oracle-exact while still answering EVERY quantile with
    // rank error O(1/√k) ≈ 1.6 % std at this k. The trade vs KLL's
    // O(1/k) is priced honestly: the output carries each estimate's
    // MEASURED rank error (err_ppm), computed against the relation
    // itself. Scale shape: map-side partials forward ≤ k pairs per group
    // (the KMV/TopK exchange posture); the rank-error census is a
    // 15-row broadcast against one scan. Streaming twin: q401.
    QueryDef("q400_quantile_sketch", {
      import graft.functions.Hashes
      s"""WITH v AS (
         |  SELECT l_returnflag AS flag,
         |         ${Hashes.mulHashSql("l_orderkey * 8 + l_linenumber", 101)}
         |           AS h,
         |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x
         |  FROM lineitem),
         |cnt AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_rows FROM v
         |        GROUP BY flag),
         |s AS (SELECT flag, h, x,
         |             row_number() OVER (PARTITION BY flag ORDER BY h, x)
         |               AS rn
         |      FROM v),
         |samp AS (SELECT flag, list(x ORDER BY x) AS xs FROM s
         |         WHERE rn <= 1024 GROUP BY flag),
         |q AS (SELECT unnest([10, 25, 50, 75, 90]) AS q_pct),
         |est AS (
         |  SELECT samp.flag, q.q_pct, CAST(len(xs) AS BIGINT) AS n_held,
         |         xs[CAST((q.q_pct * len(xs) + 99) // 100 AS INT)] AS est_x
         |  FROM samp CROSS JOIN q),
         |r AS (
         |  SELECT e.flag, e.q_pct, e.n_held, e.est_x,
         |         CAST(sum(CASE WHEN v.x <= e.est_x THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_le,
         |         max(c.n_rows) AS n_rows
         |  FROM est e JOIN v ON v.flag = e.flag
         |  JOIN cnt c ON c.flag = e.flag
         |  GROUP BY e.flag, e.q_pct, e.n_held, e.est_x)
         |SELECT flag, q_pct, n_held, est_x,
         |       n_le * 1000000 // n_rows AS rank_ppm,
         |       abs(n_le * 1000000 // n_rows - CAST(q_pct AS BIGINT) * 10000)
         |         AS err_ppm
         |FROM r ORDER BY flag, q_pct""".stripMargin
    }) { (s, d) =>
      import graft.functions.{Hashes, QuantileSketch}
      val v = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        Hashes.mulHash(col("l_orderkey") * 8 + col("l_linenumber"), 101)
          .as("h"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("x"))
        .persist() // sketch pass + the rank-error census
      val sk = v.groupBy("flag").agg(
        QuantileSketch.qsketch(1024)(col("h"), col("x")).as("pairs"),
        count(lit(1)).as("n_rows"))
      val est = sk
        .select(col("flag"), col("n_rows"), col("pairs"),
          explode(array(Seq(10, 25, 50, 75, 90).map(lit): _*)).as("q_pct"))
        .withColumn("n_held", expr("CAST(size(pairs) AS BIGINT) div 2"))
        // the sketch array is (h, x) ascending by HASH (the sampling
        // order); quantiles read the sampled VALUES sorted by value —
        // conflating the two puts the "p10" wherever the hash order
        // happens to land it (Round13Spec's rank-error bound caught this;
        // the mirrored-oracle hash check alone could not)
        .withColumn("xs", expr(
          "array_sort(transform(filter(transform(pairs, " +
            "(v, i) -> named_struct('i', i, 'v', v)), p -> p.i % 2 = 1), " +
            "p -> p.v))"))
        .withColumn("r", expr("(q_pct * n_held + 99) div 100"))
        .withColumn("est_x", element_at(col("xs"), col("r").cast("int")))
        .select("flag", "q_pct", "n_rows", "n_held", "est_x")
      v.join(broadcast(est), Seq("flag"))
        .groupBy("flag", "q_pct", "n_rows", "n_held", "est_x")
        .agg(sum(when(col("x") <= col("est_x"), 1L).otherwise(0L))
          .as("n_le"))
        .select(col("flag"), col("q_pct"), col("n_held"), col("est_x"),
          expr("n_le * 1000000 div n_rows").as("rank_ppm"),
          expr("abs(n_le * 1000000 div n_rows - CAST(q_pct AS BIGINT) * 10000)")
            .as("err_ppm"))
        .orderBy("flag", "q_pct")
    },

    // Coordinated (correlated) key sampling — the join-estimation trick
    // independent sampling CANNOT do (Cohen & Kaplan: sample each side
    // independently at rate p and a join key survives in BOTH with only
    // p² — the joined sample is nearly empty): hash the JOIN KEY once,
    // keep rows where h(key) < τ on BOTH relations, and every surviving
    // key arrives with its complete row groups — the joined sample is an
    // exact 1/p-scalable microcosm of the true join. Estimates the join
    // row count and revenue sum at ~2 % of the scan, with measured error
    // against the exact join. At 100 TB this is how you price a join
    // before running it.
    QueryDef("q430_coordinated_sample", {
      import graft.functions.Hashes
      val tau = Hashes.Prime / 50 // ≈ 2% of the key-hash space
      s"""WITH so AS (SELECT o_orderkey, o_custkey FROM orders
         |            WHERE (${Hashes.mulHashSql("o_orderkey", 53)}) < $tau),
         |sl AS (SELECT l_orderkey,
         |              CAST(round(l_extendedprice * 100, 0) AS BIGINT)
         |                AS cents
         |       FROM lineitem
         |       WHERE (${Hashes.mulHashSql("l_orderkey", 53)}) < $tau),
         |sj AS (SELECT CAST(count(*) AS BIGINT) AS n_s,
         |              CAST(sum(cents) AS BIGINT) AS rev_s
         |       FROM so JOIN sl ON l_orderkey = o_orderkey),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_x,
         |              CAST(sum(CAST(round(l_extendedprice * 100, 0)
         |                AS BIGINT)) AS BIGINT) AS rev_x
         |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         |SELECT sj.n_s AS n_sampled, sj.n_s * 50 AS n_est, ex.n_x
         |         AS n_exact,
         |       abs(sj.n_s * 50 - ex.n_x) * 1000000 // ex.n_x
         |         AS n_err_ppm,
         |       sj.rev_s * 50 AS rev_est, ex.rev_x AS rev_exact,
         |       abs(sj.rev_s * 50 - ex.rev_x) * 1000000 // ex.rev_x
         |         AS rev_err_ppm
         |FROM sj, ex""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val tau = Hashes.Prime / 50
      val so = Tables.orders(s, d)
        .where(Hashes.mulHash(col("o_orderkey"), 53) < tau)
        .select("o_orderkey")
      val sl = Tables.lineitem(s, d)
        .where(Hashes.mulHash(col("l_orderkey"), 53) < tau)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val sj = so.join(sl, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_s"), sum("cents").as("rev_s"))
      val ex = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_x"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("rev_x"))
      sj.crossJoin(broadcast(ex))
        .select(col("n_s").as("n_sampled"),
          (col("n_s") * 50).as("n_est"), col("n_x").as("n_exact"),
          expr("abs(n_s * 50 - n_x) * 1000000 div n_x").as("n_err_ppm"),
          (col("rev_s") * 50).as("rev_est"), col("rev_x").as("rev_exact"),
          expr("abs(rev_s * 50 - rev_x) * 1000000 div rev_x")
            .as("rev_err_ppm"))
    },

    // Incremental view maintenance — the materialized-aggregate update a
    // warehouse runs per CDC batch: the maintained (count, sum) per flag
    // is base aggregate + insert deltas − delete deltas, DELTA-SIZED work
    // that never rescans the base (at 100 TB that is the difference
    // between a view refresh and a table scan). The honest boundary is a
    // CHECKED column, not prose: count/sum are self-maintainable under
    // deletes, MIN is not — a delete that hits the current minimum forces
    // a rescan, and `min_needs_rescan` says exactly when (the oracle
    // derives it from the same delta census). `maintained_eq` proves the
    // delta algebra equals the from-scratch recompute.
    QueryDef("q419_ivm_aggregate",
      """WITH l AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
        |         l_orderkey AS k
        |  FROM lineitem),
        |base AS (SELECT * FROM l WHERE k % 7 <> 0),
        |ins AS (SELECT * FROM l WHERE k % 7 = 0),
        |del AS (SELECT * FROM base WHERE k % 5 = 0),
        |ba AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS BIGINT) AS s,
        |              CAST(min(x) AS BIGINT) AS mn
        |       FROM base GROUP BY flag),
        |ia AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS BIGINT) AS s,
        |              CAST(min(x) AS BIGINT) AS mn
        |       FROM ins GROUP BY flag),
        |da AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS BIGINT) AS s,
        |              CAST(min(x) AS BIGINT) AS mn
        |       FROM del GROUP BY flag),
        |re AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS BIGINT) AS s
        |       FROM (SELECT flag, x, k FROM base
        |             EXCEPT ALL SELECT flag, x, k FROM del
        |             UNION ALL SELECT flag, x, k FROM ins) u
        |       GROUP BY flag)
        |SELECT ba.flag,
        |       ba.n + coalesce(ia.n, 0) - coalesce(da.n, 0) AS n_maint,
        |       ba.s + coalesce(ia.s, 0) - coalesce(da.s, 0) AS s_maint,
        |       re.n AS n_recomputed, re.s AS s_recomputed,
        |       (ba.n + coalesce(ia.n, 0) - coalesce(da.n, 0) = re.n
        |        AND ba.s + coalesce(ia.s, 0) - coalesce(da.s, 0) = re.s)
        |         AS maintained_eq,
        |       ba.mn AS min_base,
        |       (da.mn IS NOT NULL AND da.mn <= least(ba.mn,
        |          coalesce(ia.mn, ba.mn))) AS min_needs_rescan
        |FROM ba LEFT JOIN ia ON ia.flag = ba.flag
        |LEFT JOIN da ON da.flag = ba.flag
        |JOIN re ON re.flag = ba.flag
        |ORDER BY ba.flag""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d).select(
        col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("x"),
        col("l_orderkey").as("k"))
      val base = l.where(col("k") % 7 =!= 0).persist() // agg + delta derive
      val ins = l.where(col("k") % 7 === 0)
      val del = base.where(col("k") % 5 === 0)
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("flag").agg(count(lit(1)).as("n"), sum("x").as("s"),
          min("x").as("mn"))
      val ba = agg(base)
      val ia = agg(ins).withColumnsRenamed(
        Map("n" -> "in_", "s" -> "is_", "mn" -> "imn"))
      val da = agg(del).withColumnsRenamed(
        Map("n" -> "dn", "s" -> "ds", "mn" -> "dmn"))
      val re = base.exceptAll(del).unionByName(ins)
        .groupBy("flag")
        .agg(count(lit(1)).as("n_recomputed"), sum("x").as("s_recomputed"))
      ba.join(ia, Seq("flag"), "left").join(da, Seq("flag"), "left")
        .join(re, "flag")
        .select(col("flag"),
          (col("n") + coalesce(col("in_"), lit(0L))
            - coalesce(col("dn"), lit(0L))).as("n_maint"),
          (col("s") + coalesce(col("is_"), lit(0L))
            - coalesce(col("ds"), lit(0L))).as("s_maint"),
          col("n_recomputed"), col("s_recomputed"),
          ((col("n") + coalesce(col("in_"), lit(0L))
            - coalesce(col("dn"), lit(0L)) === col("n_recomputed"))
            && (col("s") + coalesce(col("is_"), lit(0L))
              - coalesce(col("ds"), lit(0L)) === col("s_recomputed")))
            .as("maintained_eq"),
          col("mn").as("min_base"),
          (col("dmn").isNotNull && col("dmn") <=
            least(col("mn"), coalesce(col("imn"), col("mn"))))
            .as("min_needs_rescan"))
        .orderBy("flag")
    },

    // Sketch-based global bucketing — ntile WITHOUT the global sort: the
    // q400 bottom-k sketch supplies approximate quartile boundaries (a
    // k-row census broadcast), and rows are assigned by comparison in ONE
    // scan — at 100 TB this replaces ntile(4)'s full-corpus sort exchange
    // (the single most expensive primitive in the engine's ledger) with a
    // map-only pass. The price is bounded bucket-size skew, and the query
    // MEASURES it: each bucket's realized share vs the ideal 250000 ppm,
    // priced by the sketch's O(1/√k) rank error. Boundaries live strictly
    // inside the value range, so buckets are never empty by construction.
    QueryDef("q420_sketch_ntile", {
      import graft.functions.Hashes
      s"""WITH v AS (
         |  SELECT ${Hashes.mulHashSql("l_orderkey * 8 + l_linenumber", 101)}
         |           AS h,
         |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x
         |  FROM lineitem),
         |s AS (SELECT h, x, row_number() OVER (ORDER BY h, x) AS rn
         |      FROM v),
         |samp AS (SELECT list(x ORDER BY x) AS xs FROM s WHERE rn <= 1024),
         |b AS (SELECT xs[CAST((25 * len(xs) + 99) // 100 AS INT)] AS b1,
         |             xs[CAST((50 * len(xs) + 99) // 100 AS INT)] AS b2,
         |             xs[CAST((75 * len(xs) + 99) // 100 AS INT)] AS b3
         |      FROM samp),
         |a AS (SELECT CASE WHEN x <= b.b1 THEN 1 WHEN x <= b.b2 THEN 2
         |                  WHEN x <= b.b3 THEN 3 ELSE 4 END AS bucket
         |      FROM v, b),
         |cnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM a
         |        GROUP BY bucket),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cnt)
         |SELECT cnt.bucket, cnt.n,
         |       cnt.n * 1000000 // tot.nt AS share_ppm,
         |       abs(cnt.n * 1000000 // tot.nt - 250000) AS skew_ppm
         |FROM cnt, tot ORDER BY cnt.bucket""".stripMargin
    }) { (s, d) =>
      import graft.functions.{Hashes, QuantileSketch}
      val v = Tables.lineitem(s, d).select(
        Hashes.mulHash(col("l_orderkey") * 8 + col("l_linenumber"), 101)
          .as("h"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("x"))
        .persist() // sketch pass + the assignment pass
      val sortedXs =
        "array_sort(transform(filter(transform(pairs, " +
          "(v, i) -> named_struct('i', i, 'v', v)), p -> p.i % 2 = 1), " +
          "p -> p.v))"
      val b = v.agg(QuantileSketch.qsketch(1024)(col("h"), col("x"))
          .as("pairs"))
        .withColumn("xs", expr(sortedXs))
        .select(
          element_at(col("xs"),
            expr("(25 * size(xs) + 99) div 100").cast("int")).as("b1"),
          element_at(col("xs"),
            expr("(50 * size(xs) + 99) div 100").cast("int")).as("b2"),
          element_at(col("xs"),
            expr("(75 * size(xs) + 99) div 100").cast("int")).as("b3"))
      val cnt = v.crossJoin(broadcast(b))
        .select(when(col("x") <= col("b1"), 1)
          .when(col("x") <= col("b2"), 2)
          .when(col("x") <= col("b3"), 3).otherwise(4).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum("n").as("nt"))
      cnt.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"),
          expr("n * 1000000 div nt").as("share_ppm"),
          expr("abs(n * 1000000 div nt - 250000)").as("skew_ppm"))
        .orderBy("bucket")
    },

    // AMS F₂ sketch (Alon–Matias–Szegedy 1996) — the SECOND frequency
    // moment, i.e. the SELF-JOIN SIZE on a key: 16 independent ±1-hash
    // estimators Z_j = Σ_rows σ_j(key), each with E[Z_j²] = F₂, folded in
    // ONE aggregation pass (16 sums — trivially mergeable map-side, the
    // sketch's point). Next to q389's KMV join-cardinality (which
    // estimates key-DOMAIN overlap) this estimates join SIZE with
    // multiplicity — the quantity a join planner actually prices when
    // the key is skewed (F₂ ≫ distinct count exactly when a hot key
    // would blow up a shuffle partition). Both the mean-of-16 and
    // median-of-16 combiners are emitted with measured error against the
    // exact census truth; all arithmetic is int64 (|Z_j| ≤ n, Z² ≤ n²).
    QueryDef("q404_ams_f2", {
      import graft.functions.Hashes
      val zs = (0 until 16).map(j =>
        s"CAST(sum(1 - 2 * ((${Hashes.mulHashSql(s"l_partkey * 16 + $j", 131)}) % 2)) AS BIGINT) AS z$j")
        .mkString(",\n         ")
      s"""WITH z AS (
         |  SELECT $zs
         |  FROM lineitem),
         |sq AS (SELECT list_sort([${(0 until 16).map(j => s"z$j * z$j").mkString(", ")}]) AS s
         |       FROM z),
         |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM (
         |         SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem
         |         GROUP BY l_partkey) t)
         |SELECT CAST(list_reduce(s, (a, b) -> a + b) // 16 AS BIGINT)
         |         AS f2_mean,
         |       CAST((s[8] + s[9]) // 2 AS BIGINT) AS f2_median,
         |       ex.f2_exact,
         |       abs(CAST(list_reduce(s, (a, b) -> a + b) // 16 AS BIGINT)
         |           - ex.f2_exact) * 1000000 // ex.f2_exact AS mean_err_ppm,
         |       abs(CAST((s[8] + s[9]) // 2 AS BIGINT) - ex.f2_exact)
         |         * 1000000 // ex.f2_exact AS median_err_ppm
         |FROM sq, ex""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      val li = Tables.lineitem(s, d)
      val zCols = (0 until 16).map(j =>
        sum(lit(1L) - lit(2L)
          * (Hashes.mulHash(col("l_partkey") * 16 + j, 131) % 2)).as(s"z$j"))
      val zz = li.agg(zCols.head, zCols.tail: _*)
      val ex = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("f2_exact"))
      zz.crossJoin(ex)
        .withColumn("sq", array_sort(array(
          (0 until 16).map(j => col(s"z$j") * col(s"z$j")): _*)))
        .select(
          expr("aggregate(sq, 0L, (a, b) -> a + b) div 16").as("f2_mean"),
          expr("(element_at(sq, 8) + element_at(sq, 9)) div 2")
            .as("f2_median"),
          col("f2_exact"),
          expr("abs(aggregate(sq, 0L, (a, b) -> a + b) div 16 - f2_exact)" +
            " * 1000000 div f2_exact").as("mean_err_ppm"),
          expr("abs((element_at(sq, 8) + element_at(sq, 9)) div 2 - f2_exact)" +
            " * 1000000 div f2_exact").as("median_err_ppm"))
    }
  )
}

/** Oracle for q488 AND its streamed twin q489 (shared VERBATIM — the
  * twins are the SAME query evaluated through the streaming surface;
  * OracleHealthSpec asserts the identity). The two windows ride one
  * total order (event_id is unique), so RANGE/ROWS framing coincide and
  * every value is exact BIGINT cents.
  */
private[queries] object DrawdownSql {
  val sql: String =
    """WITH led AS (
      |  SELECT event_id,
      |         CASE WHEN event_type = 'purchase'
      |              THEN CAST(round(value * 100, 0) AS BIGINT)
      |              ELSE -CAST(round(value * 100, 0) AS BIGINT) END
      |           AS cents
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |mx AS (SELECT CAST(greatest(1, (max(event_id) + 1) // 256)
      |                   AS BIGINT) AS wd
      |       FROM events),
      |b AS (SELECT event_id, cents,
      |             CAST(sum(cents) OVER (ORDER BY event_id) AS BIGINT)
      |               AS balance
      |      FROM led),
      |p AS (SELECT event_id, balance,
      |             CAST(max(balance) OVER (ORDER BY event_id) AS BIGINT)
      |               AS peak
      |      FROM b)
      |SELECT CAST(p.event_id // mx.wd AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_led,
      |       max_by(p.balance, p.event_id) AS end_balance,
      |       max_by(p.peak, p.event_id) AS end_peak,
      |       CAST(max(p.peak - p.balance) AS BIGINT) AS max_drawdown
      |FROM p, mx
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
