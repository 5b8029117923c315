package graft

import org.scalatest.funsuite.AnyFunSuite

/** Consolidated ORACLE-HEALTH guards (round 14) — one suite, one table.
  *
  * The DuckDB oracle runs under a 10 s per-query wall budget in the driver
  * gate; twice (rounds 11 and 13) an oracle with a healthy RESULT carried a
  * pathological PLAN — multiply-referenced CTEs re-inlined per reference
  * (~4^refs blowup) or a recursive CTE re-joining a corpus-sized relation
  * per iteration — and zeroed or nearly zeroed a round's correctness
  * artifact. The fixes are textual properties of the oracle SQL, so they
  * are guarded textually: a refactor that drops an `AS MATERIALIZED`
  * marker, reintroduces a recursion, or diverges a streamed twin's oracle
  * from its batch original fails HERE, not in a zeroed driver gate.
  *
  * This table absorbs the per-round guards that used to accrete as
  * Round16Spec/Round17Spec tests; new oracle-health fixes become rows, not
  * new suites. Playbook references are HANDOFF.md entries.
  *
  * MATERIALIZED markers are matched with a word-boundary anchor — a plain
  * substring check for `"o AS MATERIALIZED"` would be satisfied by some
  * OTHER CTE named e.g. `lo` even after the intended `o` lost its marker.
  */
class OracleHealthSpec extends AnyFunSuite {

  /** True iff `sql` declares a CTE literally named `cte` as MATERIALIZED
    * (word-boundary on the left so `lo AS MATERIALIZED` never satisfies a
    * check for `o`).
    */
  private def materialized(sql: String, cte: String): Boolean =
    ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(cte) +
      " AS MATERIALIZED").r.findFirstIn(sql).isDefined

  /** (query, multiply-referenced CTEs that must stay MATERIALIZED, why). */
  private val materializedCtes: Seq[(String, Seq[String], String)] = Seq(
    ("q310_bradley_terry",
      (1 to 3).flatMap(r => Seq(s"c$r", s"r$r")) ++
        Seq("sup", "matches", "pairs", "w"),
      "3 rounds x 3 refs — 12.2 s at sf0.01 before materialization, 0.47 s after"),
    ("q405_cart_tree",
      Seq("o", "ol", "orr", "r_best", "l_best", "x_best"),
      "split relations re-inlined per reference — 7.5 s -> 0.07 s fix (playbook #48)"),
    ("q37_lsh_near_dup_pairs",
      Seq("s", "sig", "bands", "ss"),
      "s feeds sig+ss, sig feeds every band, bands self-joins, ss joins " +
        "twice — 3.5 s before materialization")
  )

  test("multiply-referenced oracle CTEs stay AS MATERIALIZED (word-boundary matched)") {
    for ((q, ctes, why) <- materializedCtes; c <- ctes) {
      val sql = SparkEntry.oracleSql(q)
      assert(materialized(sql, c), s"$q CTE $c not materialized — $why")
    }
    // q455's oracle is assembled from MlQueries.btOracleForTest (the arena
    // BT chain shared with q453/q460) — same disease, guarded at the source
    val bt = graft.queries.MlQueries.btOracleForTest
    for (r <- 1 to 6; c <- Seq(s"t$r", s"d$r", s"r$r", s"p$r"))
      assert(materialized(bt, c),
        s"BtSql CTE $c not materialized — round-11 654 s blowup class")
    for (c <- Seq("base", "c"))
      assert(materialized(bt, c), s"BtSql CTE $c not materialized")
  }

  test("q281's unrolled fixed-point chain keeps stepwise MATERIALIZED its") {
    // round 14: the 16 single-referenced it_k CTEs would otherwise inline
    // into one Rounds-deep lambda tree — q281 read 8.2 s (82% of budget)
    // under sweep load with the inlined form, 6-row-per-step with
    // materialization
    val sql = SparkEntry.oracleSql("q281_markov_attribution")
    for (k <- 0 to 16)
      assert(materialized(sql, s"it_$k"), s"q281 it_$k not materialized")
  }

  test("every CTE a recursive member references is MATERIALIZED (catalog sweep)") {
    // round 14: a recursive member that joins an un-materialized CTE can
    // re-evaluate that CTE's whole chain (down to the raw corpus scan)
    // during the recursion — q415 measured 3.8 s → 0.2 s at sf0.01 from
    // materializing its day census, q282 1.16 → 0.15 s, with identical
    // rows everywhere (every adoption A/B'd in DuckDB for identity +
    // wall before landing). This sweep makes the class mechanical, like
    // PlanSpec's partition-less-window audit: for EVERY oracle with a
    // recursion, every base CTE the recursive member references must be
    // AS MATERIALIZED. CTEs NOT referenced from inside the recursion
    // (pre-recursion censuses, post-recursion reports) are free to stay
    // plain — inlining there is the optimizer's call.
    val defRe =
      ("(?<![A-Za-z0-9_])([a-zA-Z_][a-zA-Z0-9_]*)\\s*(\\([^)]*\\))?\\s+AS\\s+" +
        "(MATERIALIZED\\s+)?\\(").r
    def body(sql: String, openAt: Int): String = {
      var d = 0
      var i = openAt
      while (i < sql.length) {
        sql.charAt(i) match {
          case '(' => d += 1
          case ')' => d -= 1; if (d == 0) return sql.substring(openAt + 1, i)
          case _ =>
        }
        i += 1
      }
      sql.substring(openAt + 1)
    }
    def refs(text: String, name: String): Boolean =
      s"(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(name)}(?![A-Za-z0-9_])".r
        .findFirstIn(text).isDefined
    val offending = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      if sql.contains("RECURSIVE")
      defs = defRe.findAllMatchIn(sql)
        .map(m => (m.group(1), m.group(2) != null, m.group(3) != null,
          body(sql, m.end - 1))).toSeq
      loose = defs.collect { case (n, false, false, _) => n }.toSet
      (n, hasCols, _, b) <- defs
      if hasCols || refs(b, n) // a recursive member (self-reference)
      missing = defs.map(_._1).toSet.intersect(loose)
        .filter(x => x != n && refs(b, x))
      if missing.nonEmpty
    } yield s"$name: recursive member $n references un-MATERIALIZED " +
      s"CTE(s) ${missing.toSeq.sorted.mkString(", ")}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("q358's replay oracle stays a list_reduce fold, not a per-event recursion") {
    // playbook #55: the recursive form re-joined the full event census per
    // iteration (~15k x 60k at sf0.01) and crossed the 10 s budget under
    // load; the fold form runs ~0.5 s with the identical hash
    val sql = SparkEntry.oracleSql("q358_bandit_replay")
    assert(sql.contains("list_reduce"), "q358 lost its fold form")
    assert(sql.contains("list_prepend"), "q358 lost its zero-state init")
    assert(!sql.contains("RECURSIVE"),
      "q358 reintroduced the per-event recursive CTE (10 s-budget class)")
  }

  test("q198's ground truth stays the token-explode similarity join, not the n² list_intersect") {
    // round 14: the all-pairs `ss a JOIN ss b` with per-pair list_intersect
    // ran 3.3 s at sf0.01 (the worst surviving oracle; the next 10 s-budget
    // candidate under load) — the explode/group-count form is ~0.1 s with
    // identical rows
    val sql = SparkEntry.oracleSql("q198_lsh_quality")
    assert(sql.contains("3 * pi.i >= sa.n + sb.n"),
      "q198 lost its integer-form intersection-count truth join")
    assert(!sql.contains("JOIN ss b ON a.doc_id < b.doc_id"),
      "q198 reintroduced the all-pairs ss self-join")
  }

  test("streamed twins share their batch original's oracle VERBATIM") {
    // a drift would silently weaken the streamed == batch claim: the twins
    // are the SAME query evaluated through the streaming surface
    assert(SparkEntry.oracleSql("q474_quality_survivors") ==
      SparkEntry.oracleSql("q476_stream_survivors"),
      "q474/q476 oracles diverged — the twins must share one text")
    assert(SparkEntry.oracleSql("q480_quota_sample") ==
      SparkEntry.oracleSql("q483_stream_quota"),
      "q480/q483 oracles diverged — the twins must share one text")
    assert(SparkEntry.oracleSql("q485_vocab_growth") ==
      SparkEntry.oracleSql("q486_stream_vocab_growth"),
      "q485/q486 oracles diverged — the twins must share one text")
    assert(SparkEntry.oracleSql("q488_running_drawdown") ==
      SparkEntry.oracleSql("q489_stream_drawdown"),
      "q488/q489 oracles diverged — the twins must share one text")
    assert(SparkEntry.oracleSql("q233_ewma") ==
      SparkEntry.oracleSql("q256_stream_ewma"),
      "q233/q256 oracles diverged — the twins must share one text")
    assert(SparkEntry.oracleSql("q410_page_cusum") ==
      SparkEntry.oracleSql("q412_stream_cusum"),
      "q410/q412 oracles diverged — the twins must share one text")
  }
}
