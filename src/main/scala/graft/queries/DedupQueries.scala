package graft.queries

import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.functions.Hashes
import graft.operators.{MinHash, SimHash}
import graft.streaming.Drain

/** Near-duplicate detection over `documents` (north-star dedup family):
  * MinHash signatures, LSH candidate pairs with exact-Jaccard verification,
  * SimHash fingerprints, and brute-force n-gram Jaccard. All integer
  * arithmetic (Hashes.scala) → bit-exact DuckDB oracles.
  */
object DedupQueries {
  import Hashes.Prime

  private val toks = "string_split(text, ' ')"

  /** Shared oracle CTE prefix: tokens + shingle hashes per doc. `s` is
    * MATERIALIZED — several consumers reference it from two or more
    * downstream CTEs (sig + ss), and DuckDB otherwise re-inlines the
    * shingle-hash computation per reference (playbook #43).
    */
  private val shingleCte =
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |s AS MATERIALIZED (
       |      SELECT doc_id, ${MinHash.shingleHashesSql("toks")} AS sh
       |      FROM t WHERE len(toks) >= 3)""".stripMargin

  /** Winnowing selection replayed relationally (window min + rightmost
    * tie), ending at `fp` = (doc_id, pos, mh) distinct selections — shared
    * by q168 (per-doc stats) and q170 (cross-doc census). The relational
    * re-formulation is deliberately DIFFERENT from the Spark fold; their
    * agreement pins the tie rule exactly.
    */
  private val winnowCte =
    s"""$shingleCte,
       |e AS (SELECT doc_id, i - 1 AS pos, sh[i] AS h FROM (
       |  SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS i FROM s)),
       |wn AS (SELECT doc_id, unnest(range(0, len(sh) - 3)) AS p FROM s),
       |m AS (SELECT wn.doc_id, wn.p, min(e.h) AS mh
       |      FROM wn JOIN e ON e.doc_id = wn.doc_id
       |        AND e.pos >= wn.p AND e.pos < wn.p + 4
       |      GROUP BY 1, 2),
       |sel AS (SELECT m.doc_id, m.mh, max(e.pos) AS pos
       |        FROM m JOIN e ON e.doc_id = m.doc_id
       |          AND e.pos >= m.p AND e.pos < m.p + 4 AND e.h = m.mh
       |        GROUP BY m.doc_id, m.p, m.mh),
       |fp AS (SELECT DISTINCT doc_id, pos, mh FROM sel)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // LSH banding quality audit: candidate-generation precision/recall
    // against exact ground truth. Production dedup trusts the banding
    // scheme's recall curve (1 − (1 − s^r)^b) on faith; this measures it —
    // the raw band candidates (MinHash.candidates, verify deliberately OFF)
    // are compared against the exact-Jaccard ≥ 0.5 truth over all pairs.
    // tp/n_truth is banding recall (pairs dedup would MISS), tp/n_cand is
    // precision (verify work wasted on false candidates) — both exact
    // integer ppm. The all-pairs truth is the audit's cost and the reason
    // it runs on a SAMPLE in production (the corpus relation here is the
    // bounded fixture; the candidate side stays the scalable banded join).
    // LSH parameter planner — the DESIGN-TOOL query the banding family
    // (q37/q118/q198/q263) configures itself with: for every (bands, rows)
    // split of a K=128-slot signature budget, the S-curve
    // P(collide | s) = 1 − (1 − s^r)^b evaluated at the far/near design
    // points (s=0.3 must not collide, s=0.8 must) gives FP and FN; the
    // plan with minimal FP+FN wins (ties to fewer bands — cheaper index).
    // Pure scalar math on a generated grid, ppm-quantized per cell in
    // ONE stated expression shape — the whole table is what you'd pin in
    // a design doc, and the chosen row explains why the production
    // queries run 16×8-ish splits. Scale: the grid is O(divisors of K).
    QueryDef("q287_lsh_planner",
      """WITH g AS (SELECT unnest(range(1, 129)) AS b),
        |grid AS (SELECT b, 128 // b AS r FROM g WHERE 128 % b = 0),
        |sc AS (SELECT b, r,
        |         CAST(round((1 - pow(1 - pow(CAST(0.3 AS DOUBLE), r), b))
        |           * 1000000, 0) AS BIGINT) AS fp_ppm,
        |         CAST(round(pow(1 - pow(CAST(0.8 AS DOUBLE), r), b)
        |           * 1000000, 0) AS BIGINT) AS fn_ppm
        |       FROM grid),
        |best AS (SELECT b AS best_b, r AS best_r FROM (
        |           SELECT b, r, row_number() OVER (
        |             ORDER BY fp_ppm + fn_ppm, b) AS rn FROM sc) t
        |         WHERE rn = 1)
        |SELECT CAST(sc.b AS BIGINT) AS bands, CAST(sc.r AS BIGINT) AS rows_,
        |       sc.fp_ppm, sc.fn_ppm,
        |       CAST(sc.fp_ppm + sc.fn_ppm AS BIGINT) AS cost_ppm,
        |       CAST(best.best_b AS BIGINT) AS best_bands,
        |       CAST(best.best_r AS BIGINT) AS best_rows
        |FROM sc, best ORDER BY bands""".stripMargin) { (s, d) =>
      val grid = s.range(1, 129).select(col("id").as("b"))
        .where(expr("128 % b = 0")).select(col("b"), expr("128 div b").as("r"))
      val sc = grid.select(col("b"), col("r"),
        round((lit(1.0) - pow(lit(1.0) - pow(lit(0.3), col("r").cast("double")),
          col("b").cast("double"))) * 1000000, 0).cast("long").as("fp_ppm"),
        round(pow(lit(1.0) - pow(lit(0.8), col("r").cast("double")),
          col("b").cast("double")) * 1000000, 0).cast("long").as("fn_ppm"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(expr("fp_ppm + fn_ppm"), col("b"))
      val best = sc.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("b").as("best_bands"), col("r").as("best_rows"))
      sc.crossJoin(broadcast(best))
        .select(col("b").as("bands"), col("r").as("rows_"),
          col("fp_ppm"), col("fn_ppm"),
          (col("fp_ppm") + col("fn_ppm")).as("cost_ppm"),
          col("best_bands"), col("best_rows"))
        .orderBy("bands")
    },

    // The ground truth is an EXACT similarity join in the classic
    // token-explode form: only pairs sharing ≥1 shingle are enumerated
    // (J ≥ 0.5 needs shared shingles), and the intersection size is a
    // group-count over the shared-shingle equi-join — never an all-pairs
    // list_intersect (the n² form ran the oracle at 3.3 s; this is ~0.1 s
    // with identical rows, and on the Spark side it is also the form that
    // distributes). Over DISTINCT shingle sets, round(J, 6) ≥ 0.5 is
    // exactly the integer test 3·|A∩B| ≥ |A|+|B| (|A∪B| = |A|+|B|−|A∩B|;
    // the nearest rational below ½ is ½ − 1/(2u), outside the round-6
    // window for every |A∪B| < 1e6 — OperatorSpec asserts the fixture's
    // shingle sets stay far under that bound, so a larger fixture can't
    // silently void the equivalence; both engines state the same test).
    // SCALE CONTRACT for the truth join itself: a shingle shared by f
    // docs produces f² equi-join rows, so a boilerplate-heavy corpus
    // could make one hot shingle quadratic. Here the shingle space is
    // 64-bit-hash sparse (max document frequency is asserted small in
    // OperatorSpec), and this is an EVAL ground truth, not the production
    // path — the production candidates (MinHash.candidates) are
    // bucket-capped. A corpus with boilerplate shards would need a
    // declared df-cap on truth-join shingles, stated identically in both
    // engines like the LSH bucket caps.
    QueryDef("q198_lsh_quality",
      s"""WITH ${LshPairsSql.cte},
         |tk AS (SELECT doc_id, unnest(sset) AS sh FROM ss),
         |sz AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM ss),
         |pi AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |              CAST(count(*) AS BIGINT) AS i
         |       FROM tk x JOIN tk y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2),
         |truth AS (SELECT pi.doc_a, pi.doc_b
         |          FROM pi JOIN sz sa ON sa.doc_id = pi.doc_a
         |                  JOIN sz sb ON sb.doc_id = pi.doc_b
         |          WHERE 3 * pi.i >= sa.n + sb.n),
         |m AS (SELECT
         |        (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         |        (SELECT CAST(count(*) AS BIGINT) FROM truth t
         |           JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         |          AS tp)
         |SELECT n_truth, n_cand, tp,
         |       CAST(tp * 1000000 // n_cand AS BIGINT) AS precision_ppm,
         |       CAST(tp * 1000000 // n_truth AS BIGINT) AS recall_ppm
         |FROM m""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tokCol = split(col("text"), " ", -1)
      val cand = MinHash.candidates(docs, col("doc_id"), tokCol).persist()
      val ss = docs.where(size(tokCol) >= 3)
        .select(col("doc_id"), array_distinct(MinHash.shingleHashes(tokCol))
          .as("sset"))
        .persist() // sizes + the shingle explode share it
      val sz = ss.select(col("doc_id"), size(col("sset")).cast("long").as("n"))
      val tk = ss.select(col("doc_id"), explode(col("sset")).as("sh"))
      val pi = tk.as("x").join(tk.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val truth = pi
        .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .where(lit(3L) * col("i") >= col("na") + col("nb"))
        .select(col("doc_a"), col("doc_b"))
        .persist()
      val tp = truth.join(cand, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("tp"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      nT.crossJoin(broadcast(nC)).crossJoin(broadcast(tp))
        .select(col("n_truth"), col("n_cand"), col("tp"),
          expr("tp * 1000000 div n_cand").as("precision_ppm"),
          expr("tp * 1000000 div n_truth").as("recall_ppm"))
    },

    // Dedup impact report — the before/after accounting every corpus owner
    // asks for once dedup runs: per source, how many documents and tokens
    // survive exact dedup (identical text → keep min id) PLUS near-dup
    // clustering (the q37 LSH pairs at Jaccard ≥ 0.5, closed through
    // components, min-id representative), and the removal rate in ppm.
    // Exact-dup edges ride the SAME component closure as near-dup pairs (a
    // doc links to its text-group representative), so one clustering pass
    // resolves both — and a doc that is near-dup of one source and exact
    // dup of another lands in ONE cluster, not two conflicting keeps. All
    // counts exact integers; the oracle extends the q115 CTE chain with
    // the exact-dup edges and the per-source rollup.
    QueryDef("q220_dedup_impact",
      s"""WITH RECURSIVE ${LshPairsSql.cte},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |ex AS (SELECT doc_id,
         |              min(doc_id) OVER (PARTITION BY text) AS rep
         |       FROM documents),
         |e AS MATERIALIZED (SELECT doc_a AS ea, doc_b AS eb FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p
         |      UNION ALL SELECT doc_id, rep FROM ex WHERE rep <> doc_id
         |      UNION ALL SELECT rep, doc_id FROM ex WHERE rep <> doc_id),
         |reach(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
         |comp AS (SELECT rv, min(rr) AS cmin FROM reach GROUP BY rv),
         |k AS (SELECT d.doc_id, d.source,
         |             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         |             coalesce(comp.cmin, d.doc_id) = d.doc_id AS kept
         |      FROM documents d LEFT JOIN comp ON d.doc_id = comp.rv)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_before,
         |       CAST(count(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_after,
         |       CAST((count(*) - count(CASE WHEN kept THEN 1 END)) * 1000000
         |            // count(*) AS BIGINT) AS removed_ppm,
         |       CAST(sum(n_tok) AS BIGINT) AS tokens_before,
         |       CAST(coalesce(sum(CASE WHEN kept THEN n_tok END), 0)
         |            AS BIGINT) AS tokens_after
         |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Components
      val docs = Tables.documents(s, d)
      val pairs = MinHash.nearDuplicates(docs, col("doc_id"),
          split(col("text"), " ", -1), 0.5)
        .select(col("doc_a"), col("doc_b"))
      val ex = docs.select(col("doc_id"),
          min("doc_id").over(Window.partitionBy("text")).as("rep"))
        .where(col("rep") =!= col("doc_id"))
      val edges = pairs
        .unionByName(ex.select(col("doc_id").as("doc_a"), col("rep").as("doc_b")))
      val comp = Components.connectedComponents(edges, "doc_a", "doc_b")
      docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
          (coalesce(col("comp"), col("doc_id")) === col("doc_id")).as("kept"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_before"),
          count(when(col("kept"), 1)).as("n_after"),
          sum("n_tok").as("tokens_before"),
          coalesce(sum(when(col("kept"), col("n_tok"))), lit(0L))
            .as("tokens_after"))
        .select(col("source"), col("n_before"), col("n_after"),
          expr("(n_before - n_after) * 1000000 div n_before").as("removed_ppm"),
          col("tokens_before"), col("tokens_after"))
        .orderBy("source")
    },

    // Per-source shingle novelty — "how much of this source's content
    // exists nowhere else": the fraction of each source's distinct 3-gram
    // shingles appearing in NO other source. The inverse diagnostic of
    // q109's boilerplate census (shared shingles) and the data-value signal
    // behind source weighting: a source whose shingles are 95% novel adds
    // vocabulary; one at 5% is mostly restating the corpus. One shingle
    // explode (the codegen kernel) + distinct + a source-count census per
    // shingle + the per-source rollup — exact integer ppm.
    QueryDef("q222_source_novelty",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents),
         |sh AS (SELECT DISTINCT source,
         |              unnest(${MinHash.shingleHashesSql("toks")}) AS h
         |       FROM t WHERE len(toks) >= 3),
         |ns AS (SELECT h, CAST(count(*) AS BIGINT) AS nsrc
         |       FROM sh GROUP BY h)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(CASE WHEN nsrc = 1 THEN 1 END) AS BIGINT)
         |         AS n_unique,
         |       CAST(count(CASE WHEN nsrc = 1 THEN 1 END) * 1000000
         |            // count(*) AS BIGINT) AS unique_ppm
         |FROM sh JOIN ns USING (h)
         |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tokCol = split(col("text"), " ", -1)
      val sh = Tables.documents(s, d).where(size(tokCol) >= 3)
        .select(col("source"), explode(MinHash.shingleHashes(tokCol)).as("h"))
        .distinct()
        .persist() // feeds the shingle census and the per-source rollup
      val ns = sh.groupBy("h").agg(count(lit(1)).as("nsrc"))
      sh.join(ns, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("nsrc") === 1, 1)).as("n_unique"))
        .select(col("source"), col("n_shingles"), col("n_unique"),
          expr("n_unique * 1000000 div n_shingles").as("unique_ppm"))
        .orderBy("source")
    },

    // MinHash signatures: k=8 permutation-min values per doc.
    QueryDef("q36_minhash_signature",
      s"""$shingleCte
         |SELECT doc_id,
         |       ${(0 until MinHash.K).map(j =>
               s"${MinHash.minhashSql("sh", j)} AS mh_$j").mkString(",\n       ")}
         |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      MinHash.signatures(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1))
        .orderBy("doc_id")
    },

    // LSH banding → candidate pairs → exact Jaccard ≥ 0.5 verification.
    QueryDef("q37_lsh_near_dup_pairs", LshPairsSql.sql) { (s, d) =>
      MinHash.nearDuplicates(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // The pure-SQL surface through SparkSessionExtensions, driver-gated:
    // the SAME simhash computation as q38, but issued as a `spark.sql`
    // string using the extension-registered function (GraftExtensions →
    // injectFunction) instead of the Column API — proving a SQL-only user
    // of this library (BI tool, notebook cell, `spark-sql` shell) gets the
    // bit-identical custom-expression results the programmatic API gets.
    // SqlSmoke asserts the parity in CI; this entry puts the SQL path
    // itself under the DuckDB oracle. Plan and scale shape are exactly
    // q38's (one codegen'd expression, no shuffle before the sort).
    QueryDef("q226_sql_extension_surface",
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |h AS (SELECT doc_id, ${SimHash.tokenHashListSql("toks")} AS ths FROM t)
         |SELECT doc_id, CAST(${SimHash.simhashOverThsSql("ths")} AS BIGINT) AS simhash
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("graft_docs_sql_surface")
      s.sql(
        """SELECT doc_id, simhash(split(text, ' '), 16) AS simhash
          |FROM graft_docs_sql_surface ORDER BY doc_id""".stripMargin)
    },

    // SimHash 16-bit fingerprints.
    QueryDef("q38_simhash",
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |h AS (SELECT doc_id, ${SimHash.tokenHashListSql("toks")} AS ths FROM t)
         |SELECT doc_id, CAST(${SimHash.simhashOverThsSql("ths")} AS BIGINT) AS simhash
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          SimHash.simhash(split(col("text"), " ", -1)).as("simhash"))
        .orderBy("doc_id")
    },

    // Brute-force n-gram (3-shingle) Jaccard within a source partition —
    // the exact counterpart the LSH path approximates. Bounded to the
    // low-doc_id slice to keep the all-pairs join quadratic-but-small.
    QueryDef("q39_ngram_jaccard",
      s"""$shingleCte,
         |ss AS (SELECT s.doc_id, d.source, list_distinct(s.sh) AS sset
         |       FROM s JOIN documents d USING (doc_id)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
         |           / len(list_distinct(list_concat(a.sset, b.sset))), 6) AS jaccard
         |  FROM ss a JOIN ss b
         |    ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE a.doc_id < 1500 AND b.doc_id < 1500)
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).where(col("doc_id") < 1500)
      val tokCol = split(col("text"), " ", -1)
      val ss = docs.where(size(tokCol) >= 3)
        .select(col("doc_id"), col("source"),
          array_distinct(MinHash.shingleHashes(tokCol)).as("sset"))
      ss.as("a").join(ss.as("b"),
          col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          round(size(array_intersect(col("a.sset"), col("b.sset"))).cast("double")
            / size(array_union(col("a.sset"), col("b.sset"))), 6).as("jaccard"))
        .where(col("jaccard") >= 0.2)
        .orderBy("doc_a", "doc_b")
    },

    // MinHash ESTIMATOR calibration — q198 grades the LSH BANDING
    // (candidate precision/recall); this grades the ESTIMATE itself:
    // matching-component fraction of the 8-hash signature vs the exact
    // shingle-set Jaccard, per pair, ENTIRELY in integers (both are exact
    // ratios of set/match counts — inter·1e6 div union and matches·1e6
    // div 8 — so the oracle compares them value-for-value, no bound
    // needed). The 100 fixed adjacent-doc pairs mostly sit at low true
    // Jaccard, exactly where an 8-hash estimate is coarse (granularity
    // 125 000 ppm) — the mean-absolute-error column is the number a
    // practitioner uses to size K.
    QueryDef("q263_minhash_calibration",
      s"""$shingleCte,
         |sig AS MATERIALIZED (SELECT doc_id,
         |          ${(0 until MinHash.K).map(j =>
                s"${MinHash.minhashSql("sh", j)} AS mh_$j").mkString(",\n          ")}
         |        FROM s),
         |ss AS MATERIALIZED (
         |      SELECT doc_id, list_distinct(sh) AS sset FROM s),
         |p AS (SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
         |        CAST(len(list_intersect(sa.sset, sb.sset)) * 1000000
         |             // len(list_distinct(list_concat(sa.sset, sb.sset)))
         |          AS BIGINT) AS exact_e6,
         |        CAST((${(0 until MinHash.K).map(j =>
                s"(CASE WHEN ga.mh_$j = gb.mh_$j THEN 1 ELSE 0 END)")
                .mkString(" + ")}) * 1000000 // ${MinHash.K}
         |          AS BIGINT) AS est_e6
         |      FROM sig ga
         |      JOIN sig gb ON gb.doc_id = ga.doc_id + 1
         |      JOIN ss sa ON sa.doc_id = ga.doc_id
         |      JOIN ss sb ON sb.doc_id = gb.doc_id
         |      WHERE ga.doc_id % 2 = 0 AND ga.doc_id < 200),
         |m AS (SELECT CAST(sum(abs(est_e6 - exact_e6)) // count(*) AS BIGINT)
         |        AS mean_abs_err_e6 FROM p)
         |SELECT doc_a, doc_b, exact_e6, est_e6,
         |       abs(est_e6 - exact_e6) AS abs_err_e6, m.mean_abs_err_e6
         |FROM p, m ORDER BY doc_a""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tokCol = split(col("text"), " ", -1)
      val sigs = MinHash.signatures(docs, col("doc_id"), tokCol)
      val ss = docs.where(size(tokCol) >= 3)
        .select(col("doc_id"),
          array_distinct(MinHash.shingleHashes(tokCol)).as("sset"))
      val ga = sigs.toDF(sigs.columns.map(c => s"a_$c").toIndexedSeq: _*)
      val gb = sigs.toDF(sigs.columns.map(c => s"b_$c").toIndexedSeq: _*)
      val matches = (0 until MinHash.K)
        .map(j => when(col(s"a_mh_$j") === col(s"b_mh_$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      val p = ga.join(gb, col("b_doc_id") === col("a_doc_id") + 1)
        .where(col("a_doc_id") % 2 === 0 && col("a_doc_id") < 200)
        .join(ss.select(col("doc_id").as("a_doc_id"), col("sset").as("sa")),
          "a_doc_id")
        .join(ss.select(col("doc_id").as("b_doc_id"), col("sset").as("sb")),
          "b_doc_id")
        .select(col("a_doc_id").as("doc_a"), col("b_doc_id").as("doc_b"),
          expr("CAST(size(array_intersect(sa, sb)) AS BIGINT) * 1000000" +
            " div size(array_union(sa, sb))").as("exact_e6"),
          matches.as("nm"))
        .select(col("doc_a"), col("doc_b"), col("exact_e6"),
          expr(s"nm * 1000000 div ${MinHash.K}").as("est_e6"))
        .persist() // per-pair rows + the global mean
      val m = p.agg(
        expr("sum(abs(est_e6 - exact_e6)) div count(*)").as("mean_abs_err_e6"))
      p.crossJoin(broadcast(m))
        .select(col("doc_a"), col("doc_b"), col("exact_e6"), col("est_e6"),
          abs(col("est_e6") - col("exact_e6")).as("abs_err_e6"),
          col("mean_abs_err_e6"))
        .orderBy("doc_a")
    },

    // END-TO-END near-dup removal — the full chain a corpus owner runs:
    // LSH candidates → exact-Jaccard verify (≥ 0.5) → connected components
    // over surviving pairs → keep the min-id representative per cluster.
    // Every doc comes back with its cluster label and a keep flag
    // (singletons keep themselves). Scale shape: q37's bucketed candidate
    // join (never all-pairs) + q61's iterative min-label propagation
    // (one shuffle per round) + a final left join on doc_id; no stage ever
    // materializes O(N²) state. Oracle: the same LSH CTE chain extended
    // with a recursive-CTE transitive closure.
    QueryDef("q115_dedup_pipeline",
      s"""WITH RECURSIVE ${LshPairsSql.cte},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |e AS MATERIALIZED (SELECT doc_a AS ea, doc_b AS eb FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(rv, rr) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
         |comp AS (SELECT rv AS doc_id, min(rr) AS cluster FROM reach GROUP BY rv)
         |SELECT d.doc_id, COALESCE(comp.cluster, d.doc_id) AS cluster,
         |       (COALESCE(comp.cluster, d.doc_id) = d.doc_id) AS keep
         |FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Components
      val pairs = MinHash.nearDuplicates(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), 0.5)
        .select(col("doc_a"), col("doc_b"))
      val comp = Components.connectedComponents(pairs, "doc_a", "doc_b")
      Tables.documents(s, d).select(col("doc_id"))
        .join(comp, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster"))
        .withColumn("keep", col("cluster") === col("doc_id"))
        .orderBy("doc_id")
    },

    // QUALITY-AWARE dedup survivor selection — q115 keeps each cluster's
    // min-id doc (the arbitrary-but-deterministic policy every dedup demo
    // ships); a production pipeline keeps the BEST doc: per near-dup
    // cluster, argmax of an integer quality score (q33's stopword ratio in
    // e6 — higher reads as more natural text), ties to min id. The report
    // carries both policies side by side (`policy_differs`) so the gain of
    // quality-aware selection is auditable per cluster. Shape: the q115
    // cluster labels + one quality census + one window argmax — nothing
    // beyond the exchanges q115 already pays.
    QueryDef("q474_quality_survivors", QualitySurvivorsSql.sql) { (s, d) =>
      qualitySurvivors(Tables.documents(s, d)).orderBy("cluster")
    },

    // STREAMING twin of q474 — survivor selection on the audit/serving
    // path: cluster ids ARRIVE as a file stream (the downstream consumer
    // asking "who survives in this cluster?") and each micro-batch emits
    // the per-cluster verdict from the STATIC corpus's survivor statistic
    // (clusters + quality argmax computed once, persisted — the q471/q472
    // static-corpus posture); verdicts append to batchId-keyed dirs, the
    // stream drains to a STOP after wave A (even clusters) and RESUMES the
    // same checkpoint for wave B (odd clusters). Per-cluster statistics
    // over a static corpus ⇒ streamed ≡ batch EXACTLY — the oracle is
    // q474's VERBATIM (shared QualitySurvivorsSql), no weaker contract.
    QueryDef("q476_stream_survivors", QualitySurvivorsSql.sql) { (s, d) =>
      import org.apache.spark.sql.types.{LongType, StructType}
      Scratch.run(s, "graft_surv_q_") { root =>
        val surv = qualitySurvivors(Tables.documents(s, d))
          .persist() // static corpus statistic: probed by every batch
        surv.count(): Unit
        Drain.twoWaves(s"$root/landing",
            surv.select("cluster").where(col("cluster") % 2 === 0).coalesce(1),
            surv.select("cluster").where(col("cluster") % 2 =!= 0).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType().add("cluster", LongType))
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$root/landing")
          Drain.toBatchDirs(stream, s"$root/out", s"$root/ckpt") { (batch, _) =>
            surv.join(broadcast(batch.select("cluster")), "cluster")
          }
        }
        val res = s.read.parquet(s"$root/out")
          .select("cluster", "n_docs", "kept_doc", "kept_q_e6",
            "minid_doc", "policy_differs")
          .orderBy("cluster")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
        surv.unpersist()
        res
      }
    },

    // q37 with the web-scale skew guard: band buckets holding more than
    // `cap` docs are dropped before the self-join (a boilerplate bucket of
    // B docs would otherwise put B²/2 candidate pairs on one reducer). The
    // bucket census is a window count over the same (band, bkey) shuffle
    // the join needs anyway. Declared semantics, so the oracle applies the
    // identical cap — SCALE.md "Dedup" has the full skew story.
    QueryDef("q118_lsh_capped", LshPairsSql.cappedSql(4)) { (s, d) =>
      MinHash.nearDuplicatesCapped(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), 0.5, cap = 4)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
    // the MOSS algorithm): slide a width-4 window over the 3-gram shingle
    // hashes, select the RIGHTMOST minimal hash per window, dedupe
    // selections. The guarantee (why every code-similarity system uses it):
    // any shared run of ≥ w+k-1 tokens yields at least one IDENTICAL
    // selected fingerprint in both documents, while density stays ~2/(w+1)
    // — a principled alternative to q160's content-anchored mod-s sampling
    // whose selection adapts to local hash structure. Entirely row-local
    // here: one fused HOF chain (sequence → per-window aggregate fold →
    // array_distinct → fold) inside codegen, no explode, no join, no
    // shuffle until the contract ORDER BY — the census over these
    // fingerprints is q160's machinery unchanged. The oracle replays
    // selection relationally (window min + rightmost tie) — a different
    // formulation whose agreement pins the tie rule exactly.
    QueryDef("q168_winnowing",
      s"""$winnowCte,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |               CAST(sum(mh) AS BIGINT) AS fp_checksum
         |        FROM fp GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |       coalesce(agg.n_fp, 0) AS n_fp,
         |       coalesce(agg.fp_checksum, 0) AS fp_checksum
         |FROM s LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, d) =>
      import graft.operators.Winnow
      val docs = Tables.documents(s, d)
        .where(size(split(col("text"), " ", -1)) >= 3)
        .select(col("doc_id"),
          MinHash.shingleHashes(split(col("text"), " ", -1)).as("sh"))
      docs
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
          Winnow.fingerprints(col("sh"), 4).as("fps"))
        .select(col("doc_id"), col("n_sh"),
          size(col("fps")).cast("long").as("n_fp"),
          aggregate(col("fps"), lit(0L),
            (a, x) => a + x.getField("h")).as("fp_checksum"))
        .orderBy("doc_id")
    },

    // Cross-document census over the winnowed fingerprints — MOSS's actual
    // OUTPUT: document pairs ranked by shared selected fingerprints
    // (Schleimer et al. 2003 §5 run MOSS exactly this way). q168 proves the
    // selection; this query proves the overlap report end to end. Scale
    // shape: selection stays row-local; the census groupBy and the pair
    // join share one hash exchange on the uniform fingerprint value;
    // fingerprints selected by > 8 docs are dropped as corpus boilerplate
    // BEFORE the pair join (q118's cap guard — declared semantics, same cap
    // in the oracle), bounding every bucket's fan-out at 8·7/2 pairs. The
    // winnowing guarantee transfers: any shared run of ≥ w+k−1 = 6 tokens
    // between two docs puts the pair in the census input.
    QueryDef("q170_winnow_census",
      s"""$winnowCte,
         |fpd AS (SELECT DISTINCT doc_id, mh FROM fp),
         |cen AS (SELECT mh FROM (
         |          SELECT mh, count(DISTINCT doc_id) AS nd FROM fpd GROUP BY mh)
         |        WHERE nd BETWEEN 2 AND 8),
         |hit AS (SELECT doc_id, mh FROM fpd
         |        WHERE mh IN (SELECT mh FROM cen)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |              CAST(count(*) AS BIGINT) AS shared
         |       FROM hit a JOIN hit b
         |         ON a.mh = b.mh AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
         |       FROM fpd GROUP BY doc_id)
         |SELECT pr.doc_a, pr.doc_b, pr.shared,
         |       na.n_fp AS n_a, nb.n_fp AS n_b,
         |       round(CAST(pr.shared AS DOUBLE)
         |         / least(na.n_fp, nb.n_fp), 6) AS containment
         |FROM pr
         |JOIN nf na ON na.doc_id = pr.doc_a
         |JOIN nf nb ON nb.doc_id = pr.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      import graft.operators.Winnow
      val docs = Tables.documents(s, d)
        .where(size(split(col("text"), " ", -1)) >= 3)
        .select(col("doc_id"),
          MinHash.shingleHashes(split(col("text"), " ", -1)).as("sh"))
      Winnow.sharedPairs(docs, w = 4, cap = 8, minShared = 2)
        .orderBy("doc_a", "doc_b")
    },

    // Split-leakage audit — the dataset-versioning invariant q158 states for
    // assignment stability, applied to CONTENT: near-duplicate pairs whose
    // members land on different sides of the train/valid/test split are
    // silent eval contamination (the test doc's near-copy was trained on).
    // The q37 LSH pairs compose with the q16 hash split; split assignment
    // is a PURE FUNCTION of doc_id (Split.assignSplit), so labeling both
    // pair members is row-local arithmetic on the ≤|pairs| relation — no
    // join against the corpus, no shuffle beyond what the LSH path already
    // does. At 100 TB the leakage report costs exactly one LSH pass.
    QueryDef("q163_split_leakage", LshPairsSql.leakageSql(21)) { (s, d) =>
      import graft.operators.Split
      MinHash.nearDuplicates(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), 0.5)
        .select(col("doc_a"), Split.assignSplit(col("doc_a"), 21).as("split_a"),
          col("doc_b"), Split.assignSplit(col("doc_b"), 21).as("split_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .where(col("split_a") =!= col("split_b"))
        .orderBy("doc_a", "doc_b")
    },

    // Prefix-filtered EXACT set-similarity join (the PPJoin/AllPairs
    // family, Chaudhuri et al. ICDE 2006, Xiao et al. WWW 2008) — the
    // scalable exact complement to MinHash-LSH: two shingle sets with
    // Jaccard ≥ 0.7 MUST share at least one element among each side's
    // (n − ⌈0.7n⌉ + 1) RAREST shingles, so candidates come from an
    // equi-join on prefix shingles only (rarest-first via the
    // document-frequency census; per-doc prefix selection is a window
    // PARTITIONED by doc — no global sort anywhere), then exact
    // intersection counts verify with the threshold as a cross-multiplied
    // integer inequality (no division at the boundary). Unlike q39's
    // same-source blocked quadratic, this runs UNBLOCKED over the whole
    // corpus — the candidate bound comes from the algorithm, not a
    // fixture filter.
    QueryDef("q319_prefix_jaccard",
      s"""$shingleCte,
         |sx AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, unnest(sh) AS h FROM s),
         |nd AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sx GROUP BY doc_id),
         |df AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS dfc FROM sx GROUP BY h),
         |pre AS MATERIALIZED (
         |  SELECT doc_id, h FROM (
         |    SELECT sx.doc_id, sx.h, nd.n,
         |           row_number() OVER (PARTITION BY sx.doc_id
         |             ORDER BY df.dfc, sx.h) AS rn
         |    FROM sx JOIN df USING (h) JOIN nd USING (doc_id))
         |  WHERE rn <= n - (7 * n + 9) // 10 + 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id),
         |inter AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM cand c JOIN sx xa ON xa.doc_id = c.doc_a
         |              JOIN sx xb ON xb.doc_id = c.doc_b AND xb.h = xa.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b, i.inter,
         |       CAST(i.inter * 1000000 // (na.n + nb.n - i.inter) AS BIGINT)
         |         AS jacc_ppm
         |FROM inter i JOIN nd na ON na.doc_id = i.doc_a
         |             JOIN nd nb ON nb.doc_id = i.doc_b
         |WHERE i.inter * 10 >= 7 * (na.n + nb.n - i.inter)
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val toksCol = split(col("text"), " ", -1)
      val sx = Tables.documents(s, d)
        .where(size(toksCol) >= 3)
        .select(col("doc_id"),
          explode(MinHash.shingleHashes(toksCol)).as("h"))
        .distinct()
        .persist() // df census + prefix + both verify joins
      val nd = sx.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .persist() // prefix bound + final sizes
      val df = sx.groupBy("h").agg(count(lit(1)).as("dfc"))
      val pw = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("dfc"), col("h"))
      val pre = sx.join(df, "h").join(nd, "doc_id")
        .withColumn("rn", row_number().over(pw))
        .where(col("rn") <= col("n") - expr("(7 * n + 9) div 10") + 1)
        .select("doc_id", "h")
      val cand = pre.select(col("doc_id").as("doc_a"), col("h"))
        .join(pre.select(col("doc_id").as("doc_b"), col("h")), "h")
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val inter = cand
        .join(sx.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(sx.select(col("doc_id").as("doc_b"), col("h").as("hb")),
          "doc_b")
        .where(col("h") === col("hb"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      inter
        .join(nd.select(col("doc_id").as("doc_a"), col("n").as("na")),
          "doc_a")
        .join(nd.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          "doc_b")
        .where(col("inter") * 10 >= (col("na") + col("nb") - col("inter")) * 7)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          expr("inter * 1000000 div (na + nb - inter)").as("jacc_ppm"))
        .orderBy("doc_a", "doc_b")
    },

    // CONTAINMENT dedup — the asymmetric overlap Jaccard is blind to: a
    // short document quoted whole inside a long one has tiny Jaccard but
    // containment C(A→B) = |A∩B|/|A| ≈ 1 (Broder 1997's resemblance vs
    // containment split). Candidates come from RARE shared shingles
    // (document frequency ≤ 20 — the discriminative-token blocking that
    // keeps the equi-join linear; stopword-like shingles can't vote),
    // then exact intersections verify C ≥ 0.8 in EITHER direction as an
    // integer inequality. Output: ordered (contained → container) pairs —
    // the quote-inclusion edges a scrubbing pipeline resolves by keeping
    // the container.
    QueryDef("q348_containment",
      s"""$shingleCte,
         |sx AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, unnest(sh) AS h FROM s),
         |nd AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sx GROUP BY doc_id),
         |df AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS dfc FROM sx GROUP BY h),
         |rare AS (SELECT sx.doc_id, sx.h FROM sx JOIN df USING (h)
         |         WHERE df.dfc <= 20),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id),
         |inter AS MATERIALIZED (
         |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM cand c JOIN sx xa ON xa.doc_id = c.doc_a
         |              JOIN sx xb ON xb.doc_id = c.doc_b AND xb.h = xa.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT CASE WHEN i.inter * 10 >= 8 * na.n THEN i.doc_a
         |            ELSE i.doc_b END AS contained,
         |       CASE WHEN i.inter * 10 >= 8 * na.n THEN i.doc_b
         |            ELSE i.doc_a END AS container,
         |       i.inter,
         |       CASE WHEN i.inter * 10 >= 8 * na.n
         |            THEN i.inter * 1000000 // na.n
         |            ELSE i.inter * 1000000 // nb.n END AS containment_ppm
         |FROM inter i JOIN nd na ON na.doc_id = i.doc_a
         |             JOIN nd nb ON nb.doc_id = i.doc_b
         |WHERE i.inter * 10 >= 8 * na.n OR i.inter * 10 >= 8 * nb.n
         |ORDER BY contained, container""".stripMargin) { (s, d) =>
      val toksCol = split(col("text"), " ", -1)
      val sx = Tables.documents(s, d)
        .where(size(toksCol) >= 3)
        .select(col("doc_id"),
          explode(MinHash.shingleHashes(toksCol)).as("h"))
        .distinct()
        .persist() // df census + rare blocking + both verify joins
      val nd = sx.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val df = sx.groupBy("h").agg(count(lit(1)).as("dfc"))
      val rare = sx.join(df.where(col("dfc") <= 20), "h")
        .select("doc_id", "h")
      val cand = rare.select(col("doc_id").as("doc_a"), col("h"))
        .join(rare.select(col("doc_id").as("doc_b"), col("h")), "h")
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val inter = cand
        .join(sx.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(sx.select(col("doc_id").as("doc_b"), col("h").as("hb")),
          "doc_b")
        .where(col("h") === col("hb"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      val aFirst = col("inter") * 10 >= lit(8) * col("na")
      inter
        .join(nd.select(col("doc_id").as("doc_a"), col("n").as("na")),
          "doc_a")
        .join(nd.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          "doc_b")
        .where(col("inter") * 10 >= lit(8) * col("na")
          || col("inter") * 10 >= lit(8) * col("nb"))
        .select(when(aFirst, col("doc_a")).otherwise(col("doc_b"))
            .as("contained"),
          when(aFirst, col("doc_b")).otherwise(col("doc_a"))
            .as("container"),
          col("inter"),
          when(aFirst, expr("inter * 1000000 div na"))
            .otherwise(expr("inter * 1000000 div nb"))
            .as("containment_ppm"))
        .orderBy("contained", "container")
    },

    // Curation retention funnel — the END-TO-END report every corpus team
    // publishes: per source, how many documents survive each stage of
    // raw → exact dedup (sha-256 keep-min, q30's rule) → near-dup scrub
    // (q319's prefix-filtered exact Jaccard ≥ 0.7 over the exact
    // survivors; the keep-first rule drops the larger id of every
    // verified pair) → quality gate (≥ 5 tokens AND distinct-token ratio
    // ≥ 0.3 — the repetition screen). One declarative plan composes the
    // catalog's real machinery end to end; the per-source retention ppm
    // is the number the data-mixture meeting argues about.
    QueryDef("q350_curation_funnel",
      s"""WITH raw AS (
         |  SELECT doc_id, source, text, string_split(text, ' ') AS toks
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id, source, text, toks FROM (
         |    SELECT doc_id, source, text, toks, row_number() OVER (
         |      PARTITION BY sha256(text) ORDER BY doc_id) AS rn
         |    FROM raw) t WHERE rn = 1),
         |sh AS (
         |  SELECT doc_id, ${MinHash.shingleHashesSql("toks")} AS shl
         |  FROM ex WHERE len(toks) >= 3),
         |sx AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, unnest(shl) AS h FROM sh),
         |nd AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sx
         |  GROUP BY doc_id),
         |df AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS dfc FROM sx GROUP BY h),
         |pre AS MATERIALIZED (
         |  SELECT doc_id, h FROM (
         |    SELECT sx.doc_id, sx.h, nd.n,
         |           row_number() OVER (PARTITION BY sx.doc_id
         |             ORDER BY df.dfc, sx.h) AS rn
         |    FROM sx JOIN df USING (h) JOIN nd USING (doc_id))
         |  WHERE rn <= n - (7 * n + 9) // 10 + 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id),
         |dup AS (
         |  SELECT DISTINCT c.doc_b AS doc_id
         |  FROM cand c JOIN sx xa ON xa.doc_id = c.doc_a
         |              JOIN sx xb ON xb.doc_id = c.doc_b AND xb.h = xa.h
         |              JOIN nd na ON na.doc_id = c.doc_a
         |              JOIN nd nb ON nb.doc_id = c.doc_b
         |  GROUP BY c.doc_a, c.doc_b, na.n, nb.n
         |  HAVING count(*) * 10 >= 7 * (na.n + nb.n - count(*))),
         |nr AS (
         |  SELECT ex.doc_id, ex.source, ex.toks FROM ex
         |  WHERE ex.doc_id NOT IN (SELECT doc_id FROM dup)),
         |ql AS (
         |  SELECT doc_id, source FROM nr
         |  WHERE len(toks) >= 5
         |    AND len(list_distinct(toks)) * 10 >= 3 * len(toks))
         |SELECT r.source,
         |       CAST(count(DISTINCT r.doc_id) AS BIGINT) AS n_raw,
         |       CAST(count(DISTINCT e2.doc_id) AS BIGINT) AS n_exact,
         |       CAST(count(DISTINCT n2.doc_id) AS BIGINT) AS n_near,
         |       CAST(count(DISTINCT q2.doc_id) AS BIGINT) AS n_quality,
         |       CAST(count(DISTINCT q2.doc_id) AS BIGINT) * 1000000
         |         // CAST(count(DISTINCT r.doc_id) AS BIGINT)
         |         AS retained_ppm
         |FROM raw r
         |LEFT JOIN ex e2 ON e2.doc_id = r.doc_id
         |LEFT JOIN nr n2 ON n2.doc_id = r.doc_id
         |LEFT JOIN ql q2 ON q2.doc_id = r.doc_id
         |GROUP BY r.source ORDER BY r.source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val raw = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          split(col("text"), " ", -1).as("toks"))
        .persist() // funnel base + stage joins
      val ex = raw.withColumn("rn", row_number().over(
          Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")))
        .where(col("rn") === 1).drop("rn")
        .persist() // shingles + near stage + funnel join
      val sx = ex.where(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(MinHash.shingleHashes(col("toks"))).as("h"))
        .distinct()
        .persist() // df census + prefix + verify joins
      val nd = sx.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .persist() // prefix bound + verification sizes
      val df = sx.groupBy("h").agg(count(lit(1)).as("dfc"))
      val pw = Window.partitionBy("doc_id").orderBy(col("dfc"), col("h"))
      val pre = sx.join(df, "h").join(nd, "doc_id")
        .withColumn("rn", row_number().over(pw))
        .where(col("rn") <= col("n") - expr("(7 * n + 9) div 10") + 1)
        .select("doc_id", "h")
      val cand = pre.select(col("doc_id").as("doc_a"), col("h"))
        .join(pre.select(col("doc_id").as("doc_b"), col("h")), "h")
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val dup = cand
        .join(sx.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(sx.select(col("doc_id").as("doc_b"), col("h").as("hb")),
          "doc_b")
        .where(col("h") === col("hb"))
        .join(nd.select(col("doc_id").as("doc_a"), col("n").as("na")),
          "doc_a")
        .join(nd.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          "doc_b")
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("inter"))
        .where(col("inter") * 10 >= (col("na") + col("nb") - col("inter")) * 7)
        .select(col("doc_b").as("doc_id")).distinct()
      val nr = ex.join(dup, Seq("doc_id"), "left_anti")
        .persist() // quality stage + funnel join
      val ql = nr.where(size(col("toks")) >= 5
        && size(array_distinct(col("toks"))) * 10 >= lit(3) * size(col("toks")))
      raw.select(col("doc_id"), col("source"))
        .join(ex.select(col("doc_id"), lit(1L).as("in_ex")), Seq("doc_id"),
          "left")
        .join(nr.select(col("doc_id"), lit(1L).as("in_nr")), Seq("doc_id"),
          "left")
        .join(ql.select(col("doc_id"), lit(1L).as("in_ql")), Seq("doc_id"),
          "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
          sum(coalesce(col("in_ex"), lit(0L))).as("n_exact"),
          sum(coalesce(col("in_nr"), lit(0L))).as("n_near"),
          sum(coalesce(col("in_ql"), lit(0L))).as("n_quality"),
          expr("sum(coalesce(in_ql, 0)) * 1000000 div count(*)")
            .as("retained_ppm"))
        .orderBy("source")
    },

    // ExactSubstr dedup (Lee et al. 2021 §4.1) — the canonical training-
    // data primitive the shingle families approximate: every MAXIMAL exact
    // token repeat ≥ 8 tokens between a PAIR of documents, cross-document,
    // unanchored. Anchor census (exact 8-token window keys) → bucket-capped
    // pair join → row-local bidirectional extension; every anchor inside
    // one repeat extends to the same maximal tuple, so distinct de-anchors
    // without any neighbor comparison (operators/ExactSubstr scaladoc for
    // the 100 TB shape). Top-32 longest repeats, fully ordered so the
    // LIMIT boundary is deterministic; fp = the span's content hash, which
    // must agree between the two documents by construction — the planted-
    // repeat property spec (Round14Spec) proves the extension logic the
    // mirrored hash can't.
    // ExactSubstr SCRUB — the consumer that makes q435 a usable transform
    // (Lee et al.'s actual dedup output): every reported repeat keeps the
    // doc_a copy (lowest id) and CUTS the doc_b span; overlapping span
    // unions resolve per token, and the scrubbed documents re-emit as
    // (token count before/after, content fingerprint of the scrubbed token
    // stream). Engine shape: the repeat relation's doc_b spans collect to a
    // per-doc cut list (repeats-per-doc sized, a statistic), ONE doc_id
    // join against the corpus, then the position filter runs row-locally
    // as HOF expressions — no corpus explode, no range join. The oracle
    // rebuilds the kept token stream positionally and folds the same
    // rolling hash.
    QueryDef("q456_exact_substr_scrub",
      s"""WITH ${graft.operators.ExactSubstr.maximalRepeatsSql(
            "string_split(text, ' ')", minLen = 8, cap = 16)},
         |spans AS (SELECT doc_b AS doc_id, start_b AS s,
         |                 start_b + len_tokens AS e FROM mr),
         |pos AS (SELECT t.doc_id, u.i AS p, t.toks[u.i] AS tok
         |        FROM t, unnest(range(1, len(t.toks) + 1)) AS u(i)),
         |kept AS (SELECT doc_id, p, tok FROM pos
         |         WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |           WHERE sp.doc_id = pos.doc_id
         |             AND pos.p >= sp.s AND pos.p < sp.e)),
         |ka AS (SELECT doc_id, list(tok ORDER BY p) AS ktoks
         |       FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_before,
         |       CAST(coalesce(len(ka.ktoks), 0) AS BIGINT) AS n_after,
         |       ${Hashes.tokenRollingHashSql(
               "coalesce(ka.ktoks, CAST([] AS VARCHAR[]))")} AS fp
         |FROM t LEFT JOIN ka USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.ExactSubstr.scrub(
          Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), minLen = 8, cap = 16)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_before"),
          size(col("ktoks")).cast("long").as("n_after"),
          Hashes.tokenRollingHash(col("ktoks")).as("fp"))
        .orderBy("doc_id")
    },

    QueryDef("q435_exact_substr",
      s"""WITH ${graft.operators.ExactSubstr.maximalRepeatsSql(
            "string_split(text, ' ')", minLen = 8, cap = 16)}
         |SELECT doc_a, doc_b, start_a, start_b, len_tokens, fp
         |FROM mr
         |ORDER BY len_tokens DESC, doc_a, start_a, doc_b, start_b
         |LIMIT 32""".stripMargin) { (s, d) =>
      graft.operators.ExactSubstr.maximalRepeats(
          Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), minLen = 8, cap = 16)
        .orderBy(col("len_tokens").desc, col("doc_a"), col("start_a"),
          col("doc_b"), col("start_b"))
        .limit(32)
    },

    // SimHash Hamming-distance near-dup pairs via Manku et al.'s WWW'07
    // pigeonhole blocking — the PRODUCTION simhash posture q38's
    // fingerprints exist to serve (two fingerprints within Hamming ≤ 3 of
    // a 32-bit hash agree exactly on one of 4 8-bit blocks, so candidates
    // come from 4 block equi-joins + a census cap, never an all-pairs
    // Hamming scan; exact bit-count verify on candidates only). Output is
    // the per-distance pair census with an order-insensitive pair
    // checksum — it pins the exact pair SET without materializing ~10k
    // pair rows into the checked relation.
    QueryDef("q437_simhash_hamming", {
      import graft.operators.SimHash
      s"""WITH ${SimHash.hammingPairsSql("string_split(text, ' ')",
            bits = 32, bands = 4, maxHamming = 3, cap = 64)}
         |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(doc_a * 100003 + doc_b) % $Prime AS BIGINT)
         |         AS pair_checksum
         |FROM hp GROUP BY hamming ORDER BY hamming""".stripMargin
    }) { (s, d) =>
      import graft.operators.SimHash
      SimHash.hammingPairs(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), bits = 32, bands = 4,
          maxHamming = 3, cap = 64)
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          // per-row terms sum through decimal(38,0) (the q413 pattern) —
          // the oracle sums into HUGEINT, and a plain int64 sum overflows
          // (ANSI error) once doc ids / pair counts grow past fixture scale
          (sum((col("doc_a") * 100003L + col("doc_b"))
              .cast("decimal(38,0)")) % Prime)
            .cast("long").as("pair_checksum"))
        .orderBy("hamming")
    },

    // WEIGHTED Jaccard verification — q37's exact-Jaccard verify treats a
    // document as a shingle SET; repetition-heavy near-dups (boilerplate
    // with the same lines repeated different numbers of times) need the
    // multiset form: wj = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b), the
    // histogram-intersection similarity. Candidates come from the SAME
    // banding surface (never all pairs); the verify is two token censuses
    // joined on the candidate set, all integer, with Σmax derived as
    // na + nb − Σmin so one join computes both. Threshold 0.3 on the ppm.
    QueryDef("q443_weighted_jaccard",
      s"""WITH ${LshPairsSql.cte},
         |tf AS (SELECT doc_id, tk AS token,
         |              CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS tk FROM t)
         |       GROUP BY doc_id, tk),
         |nt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS ntok
         |       FROM tf GROUP BY doc_id),
         |iw AS (SELECT c.doc_a, c.doc_b,
         |              CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS inter
         |       FROM cand c
         |       JOIN tf a ON a.doc_id = c.doc_a
         |       JOIN tf b ON b.doc_id = c.doc_b AND b.token = a.token
         |       GROUP BY c.doc_a, c.doc_b),
         |wj AS (SELECT iw.doc_a, iw.doc_b, iw.inter,
         |              iw.inter * 1000000
         |                // (na.ntok + nb.ntok - iw.inter) AS wj_ppm
         |       FROM iw JOIN nt na ON na.doc_id = iw.doc_a
         |               JOIN nt nb ON nb.doc_id = iw.doc_b)
         |SELECT doc_a, doc_b, inter, wj_ppm FROM wj
         |WHERE wj_ppm >= 300000 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ", -1)
      val cand = MinHash.candidates(docs, col("doc_id"), toks)
      val tf = docs.select(col("doc_id"), explode(toks).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .persist() // both candidate sides + the totals census
      val nt = tf.groupBy("doc_id").agg(sum("tf").as("ntok"))
      val iw = cand
        .join(tf.select(col("doc_id").as("doc_a"), col("token"),
          col("tf").as("tfa")), "doc_a")
        .join(tf.select(col("doc_id").as("doc_b"), col("token"),
          col("tf").as("tfb")), Seq("doc_b", "token"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(least(col("tfa"), col("tfb"))).as("inter"))
      iw.join(nt.select(col("doc_id").as("doc_a"), col("ntok").as("na")),
          "doc_a")
        .join(nt.select(col("doc_id").as("doc_b"), col("ntok").as("nb")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inter"),
          expr("inter * 1000000 div (na + nb - inter)").as("wj_ppm"))
        .where(col("wj_ppm") >= 300000)
        .orderBy("doc_a", "doc_b")
    },

    // Exact-substring INGEST GATE — q435's operator in its production
    // posture: an arriving batch (odd doc_ids) probes the accumulated
    // corpus (even doc_ids); any shared verbatim run ≥ 8 tokens rejects
    // the probe doc. This is the MinHash gate's exact counterpart — the
    // contamination-grade admission contract (benchmark decontamination,
    // license-text quarantine) where an estimated Jaccard is not a
    // defense. Corpus-side window buckets are capped; per probe doc the
    // output carries the hit census + the longest shared run, so the
    // admission decision is auditable, not just boolean.
    QueryDef("q444_exact_substr_gate", SubstrGateSql.sql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ", -1)
      val probe = docs.where(col("doc_id") % 2 === 1)
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val xmr = graft.operators.ExactSubstr.crossMaximalRepeats(
        probe, corpus, col("doc_id"), toks, minLen = 8, cap = 16)
      val hits = xmr.groupBy("probe_id")
        .agg(count(lit(1)).as("n_hits"), max("len_tokens").as("max_len"))
      probe.select(col("doc_id").as("probe_id"))
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id").as("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("max_len"), lit(0L)).as("max_len"),
          col("n_hits").isNull.as("admitted"))
        .orderBy("doc_id")
    },

    // STREAMING exact-substring ingest gate — q444's operator where the
    // admission contract actually lives in production (a contamination
    // gate is a stream job at the ingest door, like q442→q451): probe
    // docs arrive as a file stream in two ordered waves, each micro-batch
    // runs crossMaximalRepeats against the accumulated corpus store and
    // appends its verdicts; the stream drains to a STOP after wave A and
    // RESUMES the same checkpoint for wave B — the q412/q451 restart
    // harness, here proving the file-source progress log (no re-gating of
    // wave A, no loss) rather than operator state (the gate's only state
    // IS the corpus relation; a production deployment would also append
    // admitted probes to it between batches — the same one-directory
    // append this harness does for landing). Oracle = q444's VERBATIM:
    // streamed ≡ batch, row for row, by the shared hash.
    QueryDef("q457_stream_substr_gate", SubstrGateSql.sql) { (s, d) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      Scratch.run(s, "graft_sgate_q_") { root =>
        val docs = Tables.documents(s, d)
        val corpus = docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"))
          .persist() // the accumulated store side, probed by every batch
        val probe = docs.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"))
        val mid = probe.agg(expr("(min(doc_id) + max(doc_id)) div 2"))
          .head().getLong(0)
        Drain.twoWaves(s"$root/landing",
            probe.where(col("doc_id") <= mid).coalesce(1),
            probe.where(col("doc_id") > mid).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType()
              .add("doc_id", LongType).add("text", StringType))
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$root/landing")
          Drain.foreachBatch(stream, s"$root/ckpt") { (batch, _) =>
            val xmr = graft.operators.ExactSubstr.crossMaximalRepeats(
              batch, corpus, col("doc_id"), split(col("text"), " ", -1),
              minLen = 8, cap = 16)
            val hits = xmr.groupBy("probe_id")
              .agg(count(lit(1)).as("n_hits"),
                max("len_tokens").as("max_len"))
            batch.select(col("doc_id").as("probe_id"))
              .join(hits, Seq("probe_id"), "left")
              .select(col("probe_id").as("doc_id"),
                coalesce(col("n_hits"), lit(0L)).as("n_hits"),
                coalesce(col("max_len"), lit(0L)).as("max_len"),
                col("n_hits").isNull.as("admitted"))
              .write.mode("append").parquet(s"$root/out")
          }
        }
        s.read.parquet(s"$root/out")
          .select("doc_id", "n_hits", "max_len", "admitted")
          .orderBy("doc_id")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
      }
    }
  )

  /** q474's computation over any (doc_id, text) relation — one row per
    * near-dup cluster with the quality-argmax survivor and the min-id
    * policy alongside; split out so the streaming twin (q476) probes the
    * SAME statistic its batch twin reports. Shape: q115's cluster labels
    * + one quality census + one window argmax (partitioned by cluster —
    * never a global window).
    */
  def qualitySurvivors(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.Components
    import org.apache.spark.sql.expressions.Window
    val pairs = MinHash.nearDuplicates(docs, col("doc_id"),
        split(col("text"), " ", -1), 0.5)
      .select(col("doc_a"), col("doc_b"))
    val comp = Components.connectedComponents(pairs, "doc_a", "doc_b")
    val tk = split(col("text"), " ", -1)
    val qs = docs.select(col("doc_id"),
        size(filter(tk, x => x.isin("the", "a", "of", "and", "to")))
          .cast("long").as("hits"),
        size(tk).cast("long").as("n"))
      .select(col("doc_id"), expr("hits * 1000000 div n").as("q_e6"))
    val scored = docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
      .join(qs, "doc_id")
    val w = Window.partitionBy("cluster")
      .orderBy(col("q_e6").desc, col("doc_id"))
    val wc = Window.partitionBy("cluster")
    scored
      .withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(wc))
      .withColumn("minid_doc", min("doc_id").over(wc))
      .where(col("rk") === 1)
      .select(col("cluster"), col("n_docs"), col("doc_id").as("kept_doc"),
        col("q_e6").as("kept_q_e6"), col("minid_doc"),
        (col("doc_id") =!= col("minid_doc")).as("policy_differs"))
  }
}

/** q474/q476 oracle: q115's LSH + reachability clusters, the e6 stopword
  * quality census, and the per-cluster quality argmax (min-id ties) with
  * the min-id policy reported alongside — shared VERBATIM by the batch
  * query and its streaming twin (per-cluster statistics over a static
  * corpus make streamed ≡ batch exact).
  */
private object QualitySurvivorsSql {
  val sql: String =
    s"""WITH RECURSIVE ${LshPairsSql.cte},
       |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
       |e AS MATERIALIZED (SELECT doc_a AS ea, doc_b AS eb FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(rv, rr) AS (
       |  SELECT DISTINCT ea, ea FROM e
       |  UNION
       |  SELECT e.eb, reach.rr FROM e JOIN reach ON reach.rv = e.ea),
       |comp AS (SELECT rv AS doc_id, min(rr) AS cluster FROM reach
       |         GROUP BY rv),
       |qs AS (SELECT doc_id,
       |         len(list_filter(string_split(text, ' '),
       |             x -> x IN ('the', 'a', 'of', 'and', 'to')))
       |           * 1000000 // len(string_split(text, ' ')) AS q_e6
       |       FROM documents),
       |scored AS (SELECT COALESCE(c.cluster, d.doc_id) AS cluster,
       |                  d.doc_id, qs.q_e6
       |           FROM documents d
       |           LEFT JOIN comp c ON c.doc_id = d.doc_id
       |           JOIN qs ON qs.doc_id = d.doc_id),
       |r AS (SELECT cluster, doc_id, q_e6,
       |        row_number() OVER (PARTITION BY cluster
       |          ORDER BY q_e6 DESC, doc_id) AS rk,
       |        CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
       |          AS n_docs,
       |        min(doc_id) OVER (PARTITION BY cluster) AS minid_doc
       |      FROM scored)
       |SELECT cluster, n_docs, doc_id AS kept_doc,
       |       CAST(q_e6 AS BIGINT) AS kept_q_e6, minid_doc,
       |       doc_id <> minid_doc AS policy_differs
       |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin
}

/** q444/q457 shared oracle: the cross-relation maximal-repeat chain over
  * the odd/even document split, per-probe hit census, admit iff zero hits.
  * The streamed twin must reproduce it row for row.
  */
private object SubstrGateSql {
  val sql: String =
    s"""WITH ${graft.operators.ExactSubstr.crossMaximalRepeatsSql(
          "string_split(text, ' ')", probePred = "doc_id % 2 = 1",
          corpusPred = "doc_id % 2 = 0", minLen = 8, cap = 16)},
       |hits AS (SELECT probe_id,
       |                CAST(count(*) AS BIGINT) AS n_hits,
       |                CAST(max(len_tokens) AS BIGINT) AS max_len
       |         FROM xmr GROUP BY probe_id)
       |SELECT p.probe_id AS doc_id,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(h.max_len, 0) AS BIGINT) AS max_len,
       |       h.n_hits IS NULL AS admitted
       |FROM tp p LEFT JOIN hits h USING (probe_id)
       |ORDER BY doc_id""".stripMargin
}

/** Full LSH pipeline oracle: signatures → band keys → distinct candidate
  * pairs → exact Jaccard on distinct shingle sets, threshold 0.5.
  */
private object LshPairsSql {
  import MinHash.{BandSize, Bands, K}
  private val P = Hashes.Prime

  private def bandKeySql(b: Int): String =
    (b * BandSize until (b + 1) * BandSize)
      .map(j => s"mh_$j")
      .reduceLeft((acc, m) => s"(($acc) * 31 + $m) % $P")

  /** The CTE chain (no WITH, no final SELECT) — shared by q37 and the
    * end-to-end q115 pipeline, which appends a transitive closure to it.
    */
  val cte: String = {
    val toks = "string_split(text, ' ')"
    val mhCols = (0 until K).map(j => s"${MinHash.minhashSql("sh", j)} AS mh_$j")
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql(b)} AS bkey FROM sig")
    // s / sig / bands / ss are each referenced 2–8× downstream (sig by
    // every band select, bands by its self-join, ss by both sides of the
    // verify join) — AS MATERIALIZED stops DuckDB re-inlining the minhash
    // computation per reference (playbook #43; q198 measured 3.5 s → sub-
    // second at sf0.01 from this alone)
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |s AS MATERIALIZED (
       |      SELECT doc_id, ${MinHash.shingleHashesSql("toks")} AS sh
       |      FROM t WHERE len(toks) >= 3),
       |sig AS MATERIALIZED (
       |      SELECT doc_id, ${mhCols.mkString(", ")} FROM s),
       |bands AS MATERIALIZED (${bandSelects.mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |ss AS MATERIALIZED (
       |      SELECT doc_id, list_distinct(sh) AS sset FROM s),
       |j AS (SELECT doc_a, doc_b,
       |             round(CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE)
       |               / len(list_distinct(list_concat(x.sset, y.sset))), 6) AS jaccard
       |      FROM cand JOIN ss x ON x.doc_id = doc_a
       |                JOIN ss y ON y.doc_id = doc_b)""".stripMargin
  }

  val sql: String =
    s"""WITH $cte
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** q37 with the bucket-size cap applied before the candidate self-join —
    * the identical window-count + filter the capped operator declares.
    */
  /** q37's pairs labeled with the q16 hash split, cross-split rows only. */
  def leakageSql(seed: Long): String = {
    import graft.operators.Split
    s"""WITH $cte,
       |lk AS (SELECT doc_a, ${Split.assignSplitSql("doc_a", seed)} AS split_a,
       |              doc_b, ${Split.assignSplitSql("doc_b", seed)} AS split_b,
       |              jaccard
       |       FROM j WHERE jaccard >= 0.5)
       |SELECT doc_a, split_a, doc_b, split_b, jaccard FROM lk
       |WHERE split_a <> split_b ORDER BY doc_a, doc_b""".stripMargin
  }

  def cappedSql(cap: Int): String =
    s"""WITH $cte,
       |bandsc AS (SELECT doc_id, band, bkey FROM (
       |  SELECT doc_id, band, bkey,
       |         count(*) OVER (PARTITION BY band, bkey) AS bsize FROM bands)
       |  WHERE bsize <= $cap),
       |candc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bandsc a JOIN bandsc b
       |            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |jc AS (SELECT doc_a, doc_b,
       |              round(CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE)
       |                / len(list_distinct(list_concat(x.sset, y.sset))), 6) AS jaccard
       |       FROM candc JOIN ss x ON x.doc_id = doc_a
       |                  JOIN ss y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, jaccard FROM jc
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
}
