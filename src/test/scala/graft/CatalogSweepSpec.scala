package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two CATALOG-WIDE plan guards, isolated from every other suite.
  *
  * Why a separate suite (r15 verdict #1): the sweep builds all ~489
  * physical plans late in the test run; in the driver's environment the
  * shared test SparkContext had already died by then (a prior suite's
  * teardown / memory pressure), so the sweep failed with "SparkContext has
  * been shutdown" out of a Parquet mergeSchemasInParallel job — the
  * assertions never even evaluated. This suite (a) runs in its OWN forked
  * JVM (build.sbt Test/testGrouping keys on the suite name), so no earlier
  * suite can starve or kill its context, and (b) TestSpark.spark now
  * re-creates the session if the cached context is stopped, so even an
  * in-JVM environmental shutdown cannot turn a plan assertion into a
  * lifecycle error.
  */
class CatalogSweepSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Session-conf settings (key, value) a query may leave behind, with the
    * reason.
    */
  private val confExemptions: Map[(String, String), String] = Map(
    ("spark.sql.legacy.parquet.nanosAsLong", "true") ->
      ("Tables.events / EventStreams set it on every read, " +
        "idempotently, so older events.parquet generations decode"))

  /** `graft_*` entries of java.io.tmpdir a query may leave behind, by name
    * prefix, with the reason.
    */
  private val tmpExemptions: Map[String, String] = Map(
    "graft_nsw_base_" ->
      ("SimilarityQueries.nswBaseFixture's NSW base-index cache, keyed by " +
        "data and build parameters and reused across invocations on purpose"),
    // the remaining prefixes are one fixed path per fixture dir that the
    // query's lazy result reads back, overwritten in place by every run
    "graft_src_" -> "SourceQueries' per-format sink, read back by the result",
    "graft_roundtrip_" -> "q49's split-partitioned round-trip sink",
    "graft_compact_" -> "q130's compaction input/output dirs",
    "graft_npz_parquet_" -> "NpzQueries' idempotent conversion sink",
    "graft_buckets" -> "BucketCatalog's bucketed catalog tables")

  private def graftTmpEntries(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list)
      .fold(Set.empty[String])(_.filter(_.startsWith("graft_")).toSet)

  /** Temporary views a query may leave behind, by name, with the reason. A
    * memory sink's view holds every row the sink collected on the driver
    * until the session ends, so a stream's view is never exempt.
    */
  private val viewExemptions: Map[String, String] = Map(
    "graft_docs_sql_surface" ->
      ("q226 states its query as SQL over this fixed-name view of " +
        "`documents`; each run replaces it"),
    "q272_customer" ->
      ("q272's recursive SQL reads `customer` through this fixed-name " +
        "view; each run replaces it"))

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** One construction pass over the whole catalog, shared by the
    * catalog-wide guards below: per query, (CartesianProductExec present?,
    * partition-less WindowExec nodes, leftovers, views and streams left).
    * sparkPlan is the pre-AQE physical plan — no query executes for the
    * check itself (queries whose CONSTRUCTION runs driver iteration still
    * pay only their construction cost, same as Verify). Leftovers are the
    * session-conf keys and the `graft_*` tmpdir entries that differ before
    * and after the query; views and streams left are the temporary views
    * that differ and any stream still active after it; both minus the
    * exemptions above — the stream and disk-index queries run their jobs
    * during construction, so a scratch scope or a stream that fails to
    * undo itself shows here. Built lazily ONCE; each query's plan tree is
    * reduced to its flags immediately so the full 489-plan forest is never
    * held live at the same time.
    */
  private lazy val catalogSweep
      : Seq[(String, Boolean, Seq[String], Seq[String], Seq[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, run) =>
      val conf0 = spark.conf.getAll
      val tmp0 = graftTmpEntries()
      val views0 = tempViews()
      try {
        val p = run(spark, TestSpark.sfDir).queryExecution.sparkPlan
        val carts = p.collectWithSubqueries {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }
        val looseWindows = p.collectWithSubqueries {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty &&
                // a partition-less WindowGroupLimit below the window trims
                // every map task to the rank filter's k BEFORE the single
                // window task — the funnel is k·P-bounded by construction
                // (Spark's InferWindowGroupLimit on rank<=k filters)
                !w.child.exists {
                  case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
                    g.partitionSpec.isEmpty
                  case _ => false
                } =>
            w.windowExpression.map(_.sql).mkString("; ").take(120)
        }
        val conf1 = spark.conf.getAll
        val confLeft = (conf0.keySet ++ conf1.keySet).toSeq.sorted
          .filter(k => conf0.get(k) != conf1.get(k) &&
            !conf1.get(k).exists(v => confExemptions.contains(k -> v)))
          .map(k => s"conf $k: ${conf0.get(k)} -> ${conf1.get(k)}")
        val tmpLeft = (graftTmpEntries() -- tmp0).toSeq.sorted
          .filterNot(e => tmpExemptions.keys.exists(e.startsWith))
          .map(e => s"tmpdir $e")
        val viewsLeft = (tempViews() -- views0 -- viewExemptions.keySet)
          .toSeq.sorted.map(v => s"temp view $v")
        val streamsLeft = spark.streams.active.toSeq
          .map(q => s"active stream ${Option(q.name).getOrElse(q.id)}")
        (name, carts.nonEmpty, looseWindows, confLeft ++ tmpLeft,
          viewsLeft ++ streamsLeft)
      } finally spark.catalog.clearCache()
    }

  test("catalog sweep: no CartesianProductExec in ANY query's physical plan") {
    // the catalog-wide guard behind every per-query broadcast hint: a 1-row
    // crossJoin that loses its broadcast() (or an AQE-off run of an
    // unhinted one) plans as CartesianProductExec and shuffles the corpus
    // against itself.
    val bad = catalogSweep.collect { case (name, true, _, _, _) => name }
    assert(bad.isEmpty, s"cartesian product in plans of: ${bad.mkString(", ")}")
  }

  /** Every query whose physical plan may contain a partition-less WindowExec,
    * with the reason the window's input is BOUNDED (k-sized statistics, never
    * row-scale): bins, censuses, deciles, per-source/per-type grids, top-k'd
    * shortlists. A window over a row-scale relation (docs, events, users,
    * vocabulary — anything that grows with the data) is a single-task funnel
    * at 100× and must use the two-pass GlobalRank/PrefixSum zip instead
    * (q116/q473/q334/q333 are the precedents). Additions to this map require
    * the same justification discipline: name the bounded statistic.
    */
  private val partitionlessWindowWhitelist: Map[String, String] = Map(
    "q07_survival_curve" -> "histogram-bin census (window sees bins rows only)",
    "q156_hybrid_retrieval" -> "fused union of two TakeOrdered top-20 shortlists (≤40 rows)",
    "q192_ks_drift" -> "histogram-bin census",
    "q199_quota_allocation" -> "per-source remainder census (sources are app-bounded)",
    "q227_nprobe_sweep" -> "nprobe sweep grid (a handful of probe settings)",
    "q230_hits" -> "two 15-row TakeOrdered slices (limit before the rank window)",
    "q239_bootstrap_ci" -> "bootstrap replicate census (B rows)",
    "q245_time_travel" -> "4-row version census (fold-equality flag)",
    "q250_decile_lift" -> "decile census (10 rows)",
    "q261_rolling_corr" -> "day grid (time-bounded)",
    "q287_lsh_planner" -> "LSH band/row plan grid",
    "q289_string_asof" -> "asof dictionary: broadcast-bound key universe (NativeAsof.scala)",
    "q328_zipf_fit" -> "1000-row TakeOrdered rank axis (limit before the window)",
    "q330_nn_matching" -> "P-row partition-boundary census (NnMatch.scala)",
    "q333_uplift_qini" -> "decile census (10 rows)",
    "q341_wasserstein" -> "histogram-bin census",
    "q349_next_event_acc" -> "event-type census (app-bounded types)",
    "q355_seq_patterns" -> "event-type pair/triple census (|types|^3-bounded)",
    "q379_acf_pacf" -> "day grid (time-bounded)",
    "q382_luby_mis" -> "round census (O(log n) rows)",
    "q385_heaps_law" -> "checkpoint grid (fixed prefix checkpoints)",
    "q388_decayed_counts" -> "event-type census (app-bounded types)",
    "q418_ips_offpolicy" -> "day grid + event-type census",
    "q423_ktruss" -> "3-row TakeOrdered slice (limit before the window)",
    "q424_kaplan_meier" -> "day-granular duration census (time-bounded)",
    "q465_zipf_slope" -> "100-row TakeOrdered rank axis (limit before the window)",
    "q480_quota_sample" -> "per-source remainder census (q199's shape; the doc-rank window is partitioned + budget-capped)",
    "q485_vocab_growth" -> "checkpoint grid (max-census bounded, q385's bucketing)")

  test("catalog sweep: partition-less WindowExec only over declared bounded statistics") {
    // the mechanical form of the scale audit that caught q473/q334: any
    // WindowExec with an empty partitionSpec must be justified by name in
    // the whitelist above, or CI fails — a future unpartitioned window over
    // row-scale data can't land silently.
    val flagged = catalogSweep.collect {
      case (name, _, ws, _, _) if ws.nonEmpty => name -> ws
    }.toMap
    val unexplained = flagged.keySet -- partitionlessWindowWhitelist.keySet
    assert(unexplained.isEmpty,
      s"partition-less WindowExec without a bounded-input justification in: " +
        unexplained.toSeq.sorted.map(n => s"$n [${flagged(n).mkString(" | ")}]")
          .mkString("\n"))
    // staleness guard: a whitelist entry whose query no longer plans a
    // partition-less window is a stale justification — drop it
    val stale = partitionlessWindowWhitelist.keySet -- flagged.keySet
    assert(stale.isEmpty,
      s"whitelist entries with no partition-less window anymore: ${stale.mkString(", ")}")
  }

  test("catalog sweep: no query leaves a session-conf change or a scratch dir behind") {
    // a stream or index query that drops its temp dir outside a finally, or
    // restores a conf key by hand and misses one path, leaks per invocation
    // — Scratch.run is the one scope that undoes both
    val leaks = catalogSweep.collect {
      case (name, _, _, left, _) if left.nonEmpty => s"$name: ${left.mkString("; ")}"
    }
    assert(leaks.isEmpty, s"queries left state behind:\n${leaks.mkString("\n")}")
  }

  test("catalog sweep: no query leaves a temp view or an active stream behind") {
    // a memory sink whose view outlives the query keeps every row it
    // collected on the driver until the session ends — Drain.toMemory
    // drops the view before it returns
    val leaks = catalogSweep.collect {
      case (name, _, _, _, left) if left.nonEmpty => s"$name: ${left.mkString("; ")}"
    }
    assert(leaks.isEmpty, s"queries left views or streams behind:\n${leaks.mkString("\n")}")
  }
}
